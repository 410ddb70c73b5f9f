package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets

/** On-disk layout of one `.btr` file (our analog of the reference's
  * ColumnPart files, /root/reference/btrblocks/storage/Chunk.hpp:95-113,
  * generalized to all columns of a task's rows):
  *
  *   [magic "BTRG"][u32 version]
  *   row groups: for each row group (≤ blockSize rows),
  *               for each column in schema order: one encoded chunk blob
  *   [footer][i32 footerLen][magic "BTRG"]
  *
  * The footer stores per-(rowGroup, column) offsets + lengths + min/max +
  * null counts — this is what enables column pruning (seek per column)
  * and predicate chunk-skipping at scan planning time.
  */
object BtrFile {
  val Magic: Array[Byte] = "BTRG".getBytes(StandardCharsets.US_ASCII)
  // v2: double/float chunk stats carry a hasNaN flag byte (footer stats
  // exclude NaN from min/max, but Spark orders NaN above every value — the
  // flag keeps GreaterThan-family chunk skipping and MIN/MAX pushdown
  // NaN-exact). v3: every column chunk may carry a split-block bloom
  // filter (u32 word count, 0 = none) after its stats for equality
  // chunk-skipping. v4: int-family chunks carry their non-null value sum
  // (flag byte + i64, ORC-style) for SUM aggregate pushdown. v5: the
  // footer records each column's PHYSICAL type tag (one byte per column
  // after the column count) — type-widening schema evolution (int→long,
  // float→double) reads old narrow files under the widened table schema
  // by decoding with the file's own tag and upcasting. Readers validate
  // the header version and fail cleanly on files written by a different
  // layout — except versions 4 and 5, which differ from 6 ONLY by absent
  // trailing blocks: v4 files parse with colTags = null (tagOf then
  // reports "same as logical type") and v4/v5 with colNdv = null (no NDV
  // sketches), so older tables stay readable without a rewrite. v6: the
  // footer carries one HyperLogLog register array per column (file-level
  // distinct-value sketch, [[Hll]]) so planning reports table NDV to
  // Catalyst's cost-based optimizer from metadata alone. Writers always
  // emit the current version.
  // v7: struct-leaf stat entries (footer kind 4)
  // v8: recursive kind-4 leaf stats (nested structs); chunk bodies gain
  // nested-struct/array-leaf and array-valued-map layouts
  val Version = 8
  private val MinReadVersion = 4
  val DefaultBlockSize = 65536 // tuples per chunk, btrblocks.hpp:24
  val DefaultCascadeDepth = 3 // btrblocks.hpp:31,37,43

  final case class ColumnChunkMeta(
      offset: Long,
      length: Int,
      nullCount: Int,
      statsKind: Int, // 0 none, 1 long min/max, 2 double min/max, 3 string bounds
      minLong: Long,
      maxLong: Long,
      minDouble: Double,
      maxDouble: Double,
      // kind 3 only (Parquet-style truncated bounds): minBytes is a prefix of
      // the true min (valid lower bound); maxBytes is the true max when short,
      // else a truncated+incremented prefix (valid upper bound). Either may be
      // null when unavailable (e.g. all-0xFF prefix can't be incremented).
      minBytes: Array[Byte] = null,
      maxBytes: Array[Byte] = null,
      // kind 3 only: the stored bound is the TRUE chunk min/max (the source
      // string fit in StringStatLen — no truncation). Exact bounds answer
      // string MIN/MAX aggregates metadata-only; inexact ones only skip.
      // Files written before these flag bits existed parse as inexact,
      // which is the conservative direction.
      minExact: Boolean = false,
      maxExact: Boolean = false,
      // kind 2 only: the chunk contains at least one NaN (min/maxDouble
      // exclude NaN; an all-NaN chunk stores NaN placeholders for both)
      hasNaN: Boolean = false,
      // optional split-block bloom over the chunk's distinct value hashes
      // (int/string families) for equality skipping; null when absent
      bloom: Array[Int] = null,
      // kind 1 only: chunk sum over non-null values, wrapped on overflow
      // with the flag set (exact for LongType sums; decimal readers fall
      // back to a decode when flagged)
      sumLong: Long = 0L,
      sumOverflow: Boolean = false,
      // struct columns (footer kind 4, v7): per-leaf stat entries in file
      // leaf order — offset/length 0 (the leaves live inside the parent's
      // blob), nullCount + statsKind + bounds populated like a scalar
      // column's, so chunk skipping on `rec.a` reuses the scalar probes.
      // Leaf nullCounts COUNT struct-null rows (the writer null-fills
      // leaves under a null struct), matching SQL's rec.a IS NULL.
      leafStats: Array[ColumnChunkMeta] = null
  )

  final case class RowGroupMeta(numRows: Int, columns: Array[ColumnChunkMeta])

  /** `colTags`: the PhysType tag each column's chunks were encoded with
    * (v5). 0 = unknown — readers fall back to the table schema's tag.
    */
  final case class Footer(
      rowGroups: Array[RowGroupMeta],
      colTags: Array[Int] = null,
      // v6: per-column file-level HyperLogLog registers (2^ndvP bytes
      // each; null array or null entry = no sketch for that column —
      // array-family columns and pre-v6 files). Planning merges file
      // sketches into a table NDV estimate for Catalyst's CBO.
      ndvP: Int = 0,
      colNdv: Array[Array[Byte]] = null) {
    def numRows: Long = rowGroups.map(_.numRows.toLong).sum
    def tagOf(col: Int): Int =
      if (colTags != null && col < colTags.length) colTags(col) else 0
    def ndvOf(col: Int): Array[Byte] =
      if (colNdv != null && col < colNdv.length) colNdv(col) else null
  }

  def writeFooter(out: BufWriter, footer: Footer, numCols: Int): Unit = {
    val start = out.pos
    writeFooterBody(out, footer, numCols)
    out.putInt(out.pos - start)
    out.putBytes(Magic)
  }

  /** The footer body alone (no trailing length/magic) — shared by the
    * per-file footer and the table-level footer index sidecar.
    */
  /** One stat entry's payload (kinds 1-3; kind 0 writes nothing) —
    * shared by top-level columns and struct leaves.
    */
  private def writeStatPayload(out: BufWriter, c: ColumnChunkMeta): Unit = c.statsKind match {
    case 1 =>
      out.putLong(c.minLong); out.putLong(c.maxLong)
      out.putByte(if (c.sumOverflow) 1 else 0); out.putLong(c.sumLong)
    case 2 =>
      out.putByte(if (c.hasNaN) 1 else 0)
      out.putDouble(c.minDouble); out.putDouble(c.maxDouble)
    case 3 =>
      val flags = (if (c.minBytes != null) 1 else 0) | (if (c.maxBytes != null) 2 else 0) |
        (if (c.minExact) 4 else 0) | (if (c.maxExact) 8 else 0)
      out.putByte(flags)
      if (c.minBytes != null) { out.putByte(c.minBytes.length); out.putBytes(c.minBytes) }
      if (c.maxBytes != null) { out.putByte(c.maxBytes.length); out.putBytes(c.maxBytes) }
    case _ => ()
  }

  def writeFooterBody(out: BufWriter, footer: Footer, numCols: Int): Unit = {
    out.putInt(footer.rowGroups.length)
    out.putInt(numCols)
    // v5: per-column physical type tags (0 = unknown → table schema tag)
    var tc = 0
    while (tc < numCols) {
      out.putByte(if (footer.colTags != null && tc < footer.colTags.length) footer.colTags(tc) else 0)
      tc += 1
    }
    // v6: per-column NDV sketch block — precision byte (0 = whole block
    // absent), then per column a present flag + 2^p raw register bytes
    if (footer.colNdv == null || footer.ndvP == 0) out.putByte(0)
    else {
      out.putByte(footer.ndvP)
      var nc = 0
      while (nc < numCols) {
        val r = if (nc < footer.colNdv.length) footer.colNdv(nc) else null
        if (r == null) out.putByte(0)
        else {
          require(r.length == (1 << footer.ndvP), "footer ndv register size mismatch")
          out.putByte(1)
          out.putBytes(r)
        }
        nc += 1
      }
    }
    footer.rowGroups.foreach { rg =>
      out.putInt(rg.numRows)
      rg.columns.foreach { c =>
        out.putLong(c.offset)
        out.putInt(c.length)
        out.putInt(c.nullCount)
        // kind 4 (v7): struct column with per-leaf stats — the column
        // itself has no top-level bounds; each leaf carries a stat
        // entry. RECURSIVE (v8): a nested-struct leaf writes kind 4
        // again with its own sub-leaf entries.
        def writeStatEntry(e: ColumnChunkMeta): Unit = {
          out.putByte(if (e.leafStats != null) 4 else e.statsKind)
          if (e.leafStats != null) {
            out.putByte(e.leafStats.length)
            e.leafStats.foreach { lf =>
              out.putInt(lf.nullCount)
              writeStatEntry(lf)
            }
          } else writeStatPayload(out, e)
        }
        writeStatEntry(c)
        // v3: optional bloom bits (u32 word count, 0 = none)
        if (c.bloom == null) out.putInt(0)
        else {
          out.putInt(c.bloom.length)
          var i = 0
          while (i < c.bloom.length) { out.putInt(c.bloom(i)); i += 1 }
        }
      }
    }
  }

  def readFooter(bytes: Array[Byte]): Footer = {
    val len = bytes.length
    require(len > 16, "btr file too short")
    val v = checkHeader(new BufReader(bytes, 0, 8), "<in-memory>")
    val tail = new BufReader(bytes, len - 8, len)
    val footerLen = tail.getInt()
    parseFooterBody(new BufReader(bytes, len - 8 - footerLen, len - 8), v)
  }

  /** Validate the 8-byte header [magic][u32 version] a writer emits first
    * (BtrDataWriter, via DataOutput.writeInt — big-endian): a version
    * mismatch means the footer layout differs — fail with a clear message
    * instead of mis-decoding stats.
    */
  private def checkHeader(hr: BufReader, file: Any): Int = {
    require(
      java.util.Arrays.equals(hr.getBytes(4), Magic),
      s"not a btr file (bad header magic): $file")
    val b = hr.getBytes(4)
    val v = ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) | ((b(2) & 0xff) << 8) | (b(3) & 0xff)
    require(v >= MinReadVersion && v <= Version,
      s"unsupported btr format version $v (this build reads versions " +
        s"$MinReadVersion-$Version): $file")
    v
  }

  /** Standalone serialized footer body (for shipping planner-cached
    * footers to executor tasks inside input partitions).
    */
  def footerBodyBytes(footer: Footer): Array[Byte] = {
    val w = new BufWriter(1024)
    writeFooterBody(w, footer, footer.rowGroups.headOption.map(_.columns.length).getOrElse(0))
    w.result()
  }

  def footerFromBody(bytes: Array[Byte]): Footer = parseFooterBody(new BufReader(bytes))

  /** Footer-only read: the 8-byte header, the 8-byte tail (footerLen +
    * magic), then just the footer slice, all on one open stream. Planning
    * I/O is O(footer bytes), never O(data bytes), and offsets are
    * long-safe for files > 2 GiB — the analog of the reference reading
    * only `metadata` at plan time
    * (tools/conversion/decompression-speed.cpp:113-120).
    */
  def readFooter(fs: FileSystem, file: Path, fileLen: Long): Footer = {
    require(fileLen > 16, s"btr file too short: $file")
    val in = BtrFs.open(fs, file)
    try {
      val v = checkHeader(new BufReader(BtrFs.readAt(in, 0L, 8)), file)
      val tr = new BufReader(BtrFs.readAt(in, fileLen - 8L, 8))
      val footerLen = tr.getInt()
      require(
        java.util.Arrays.equals(tr.getBytes(4), Magic),
        s"bad btr magic in tail of $file")
      require(footerLen > 0 && footerLen <= fileLen - 16, s"bad footerLen $footerLen in $file")
      parseFooterBody(new BufReader(BtrFs.readAt(in, fileLen - 8L - footerLen, footerLen)), v)
    } finally in.close()
  }

  private[format] def parseFooterBody(in: BufReader, version: Int = Version): Footer = {
    val numRg = in.getInt()
    val numCols = in.getInt()
    // v4 footers predate per-column physical tags; null means "physical
    // type equals the logical type" everywhere (tagOf's default)
    val colTags = if (version < 5) null else new Array[Int](numCols)
    var tc = 0
    while (colTags != null && tc < numCols) { colTags(tc) = in.getByte(); tc += 1 }
    // v6: NDV sketch block (precision 0 = absent); pre-v6 footers have none
    var ndvP = 0
    var colNdv: Array[Array[Byte]] = null
    if (version >= 6) {
      ndvP = in.getByte()
      if (ndvP > 0) {
        colNdv = new Array[Array[Byte]](numCols)
        var nc = 0
        while (nc < numCols) {
          if (in.getByte() != 0) colNdv(nc) = in.getBytes(1 << ndvP)
          nc += 1
        }
      }
    }
    val rgs = new Array[RowGroupMeta](numRg)
    var g = 0
    while (g < numRg) {
      val numRows = in.getInt()
      val cols = new Array[ColumnChunkMeta](numCols)
      var c = 0
      while (c < numCols) {
        val off = in.getLong()
        val l = in.getInt()
        val nulls = in.getInt()
        val kind = in.getByte()
        def payload(o: Long, len: Int, nc: Int, k: Int): ColumnChunkMeta = k match {
          case 1 =>
            val mn = in.getLong(); val mx = in.getLong()
            val sumOver = in.getByte() != 0
            val sum = in.getLong()
            ColumnChunkMeta(o, len, nc, 1, mn, mx, 0, 0,
              sumLong = sum, sumOverflow = sumOver)
          case 2 =>
            val nan = in.getByte() != 0
            val mn = in.getDouble(); val mx = in.getDouble()
            ColumnChunkMeta(o, len, nc, 2, 0, 0, mn, mx, hasNaN = nan)
          case 3 =>
            val flags = in.getByte()
            val mn = if ((flags & 1) != 0) in.getBytes(in.getByte()) else null
            val mx = if ((flags & 2) != 0) in.getBytes(in.getByte()) else null
            ColumnChunkMeta(o, len, nc, 3, 0, 0, 0, 0, mn, mx,
              minExact = (flags & 4) != 0, maxExact = (flags & 8) != 0)
          case _ => ColumnChunkMeta(o, len, nc, 0, 0, 0, 0, 0)
        }
        // struct leaf stats (v7): per-leaf entries; recursive since v8
        // (a nested-struct leaf parses kind 4 again)
        def parseStatEntry(o: Long, len: Int, nc: Int, k: Int): ColumnChunkMeta =
          if (k == 4) {
            val leafCount = in.getByte()
            val leaves = new Array[ColumnChunkMeta](leafCount)
            var lf = 0
            while (lf < leafCount) {
              val lnc = in.getInt()
              val lk = in.getByte()
              leaves(lf) = parseStatEntry(0, 0, lnc, lk)
              lf += 1
            }
            ColumnChunkMeta(o, len, nc, 0, 0, 0, 0, 0, leafStats = leaves)
          } else payload(o, len, nc, k)
        val parsed = parseStatEntry(off, l, nulls, kind)
        val bloomWords = in.getInt()
        cols(c) =
          if (bloomWords == 0) parsed
          else {
            val bits = new Array[Int](bloomWords)
            var i = 0
            while (i < bloomWords) { bits(i) = in.getInt(); i += 1 }
            parsed.copy(bloom = bits)
          }
        c += 1
      }
      rgs(g) = RowGroupMeta(numRows, cols)
      g += 1
    }
    Footer(rgs, colTags, ndvP, colNdv)
  }
}

/** Footer-index sidecar: `_btr_footerindex.bin` at the table root caches
  * every data file's footer so scan PLANNING is one sequential file read
  * instead of one tail-read per data file (the driver-side analog of the
  * reference parallelizing its metadata pass,
  * tools/conversion/decompression-speed.cpp:46-59 — but O(1) requests).
  * The index is ADVISORY: entries are keyed by (root-relative path, file
  * length); a listed file missing from the index falls back to a direct
  * tail-read, extra entries are ignored, and a corrupt/torn index reads
  * as empty. Writers and the compactor refresh it after commit;
  * refreshes are incremental (existing entries are reused, only new
  * files' footers are read).
  *
  *   [magic "BTRX"][u32 format version]
  *   [u32 numEntries]
  *   per entry: [u32 relPathLen][relPath UTF-8][i64 fileLen][i64 modTime]
  *              [u32 bodyLen][footer body (BtrFile.writeFooterBody)]
  */
object BtrFooterIndex {
  val IndexFile = "_btr_footerindex.bin"
  private val Magic: Array[Byte] = "BTRX".getBytes(StandardCharsets.US_ASCII)

  /** Cache validity key: root-relative path + (length, modification time)
    * — the same freshness triple Spark's shared file index uses, so an
    * in-place modified file can never serve a stale cached footer.
    */
  type Key = (String, Long, Long)

  final case class Entry(rel: String, len: Long, modTime: Long, footer: BtrFile.Footer)

  /** Root-relative path of a data file (partition dirs included). */
  def relPath(qualifiedRoot: Path, file: Path): String = {
    val rootPath = qualifiedRoot.toUri.getPath
    val f = file.toUri.getPath
    if (f.startsWith(rootPath + "/")) f.substring(rootPath.length + 1) else f
  }

  def keyOf(qualifiedRoot: Path, e: BtrTableMeta.DataFileEntry): Key =
    (relPath(qualifiedRoot, e.path), e.len, e.modTime)

  /** Atomically publish the index (tmp write, delete old, rename in).
    * The delete→rename window shows readers a missing index — they fall
    * back to tail-reads, never a torn file.
    */
  def write(fs: FileSystem, rawRoot: Path, entries: Seq[Entry]): Unit = {
    val root = fs.makeQualified(rawRoot)
    val w = new BufWriter(64 * 1024)
    w.putBytes(Magic)
    w.putInt(BtrFile.Version)
    w.putInt(entries.length)
    entries.foreach { e =>
      val relBytes = e.rel.getBytes(StandardCharsets.UTF_8)
      w.putInt(relBytes.length)
      w.putBytes(relBytes)
      w.putLong(e.len)
      w.putLong(e.modTime)
      val lenSlot = w.pos
      w.putInt(0)
      val bodyStart = w.pos
      val numCols = e.footer.rowGroups.headOption.map(_.columns.length).getOrElse(0)
      BtrFile.writeFooterBody(w, e.footer, numCols)
      w.patchInt(lenSlot, w.pos - bodyStart)
    }
    val tmp = new Path(root, s"_tmp_$IndexFile")
    val out = fs.create(tmp, true)
    out.write(w.backing, 0, w.pos)
    out.close()
    val fin = new Path(root, IndexFile)
    fs.delete(fin, false)
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"btr footer index: rename $tmp -> $fin failed")
  }

  /** All cached footers keyed by (relPath, fileLen, modTime); empty when
    * the index is absent, corrupt, or written by a different format
    * version.
    */
  def read(fs: FileSystem, rawRoot: Path): Map[Key, BtrFile.Footer] = {
    val root = fs.makeQualified(rawRoot)
    val p = new Path(root, IndexFile)
    try {
      val st =
        try fs.getFileStatus(p)
        catch { case _: java.io.FileNotFoundException => return Map.empty }
      val r = new BufReader(BtrFs.readFile(fs, p, st.getLen.toInt))
      if (!java.util.Arrays.equals(r.getBytes(4), Magic)) return Map.empty
      if (r.getInt() != BtrFile.Version) return Map.empty
      val n = r.getInt()
      val out = Map.newBuilder[Key, BtrFile.Footer]
      var i = 0
      while (i < n) {
        val rel = new String(r.getBytes(r.getInt()), StandardCharsets.UTF_8)
        val len = r.getLong()
        val modTime = r.getLong()
        val bodyLen = r.getInt()
        val at = r.pos
        out += ((rel, len, modTime) -> BtrFile.parseFooterBody(r))
        require(r.pos == at + bodyLen, s"footer index entry $rel: body length mismatch")
        i += 1
      }
      out.result()
    } catch { case _: Exception => Map.empty } // advisory: unreadable = absent
  }
}

/** Table-level metadata: `_btr_meta.json` at the table root holds the
  * schema (Spark StructType JSON) + format config and table policy — the
  * analog of the reference's FileMetadata
  * (/root/reference/btrblocks/compression/Datablock.hpp:23-35). Encoded
  * and parsed by [[BtrJson]]. Data files are discovered by listing
  * `*.btr` (append-friendly).
  */
object BtrTableMeta {
  val MetaFile = "_btr_meta.json"

  /** One parsed `_btr_meta.json`. The policy fields are table meta, not
    * session config: every writer and every engine must honor the same
    * values.
    *
    * @param blockSize / cascade recorded writer geometry — rewrites reuse
    *   it so an OPTIMIZE never silently changes the table's row-group size
    * @param partitionCols partition columns recorded at write time
    *   (hive-style layout)
    * @param retainRemoved opt-in retention of removed files (see
    *   BtrRetention): removal commits MOVE visible data files into
    *   `_btr_removed/` instead of deleting, extending time travel and the
    *   change feed across removals
    * @param logRetention snapshot-log entries prune keeps
    *   (`btr.logRetention`); None = the engine default
    *   ([[graft.sources.BtrLog.KeepEntries]]). It bounds how far a CDC
    *   consumer may lag, so one writer's prune must not break another
    *   consumer's resolvable range
    * @param deletionVectors merge-on-read deletion vectors
    *   (`btr.deletionVectors`): row-level DELETE writes position sidecars
    *   under `_btr_dv/` instead of rewriting files, and scans mask the
    *   recorded ordinals out — every reader must apply the masks or
    *   deleted rows resurrect
    * @param dvPurgeThreshold `OPTIMIZE ... APPLY PURGE` trigger
    *   (`btr.dvPurgeThreshold`): a file rewrites when its committed masks
    *   cover at least this fraction of its rows; None = the engine
    *   default ([[graft.sources.BtrCompact.DefaultDvPurgeThreshold]])
    * @param clusterBy declared clustering columns (`btr.clusterBy`):
    *   writers sort incoming rows by these so fresh files arrive
    *   pre-clustered for chunk skipping; `OPTIMIZE ... CLUSTER BY` remains
    *   the explicit whole-table re-cluster. Nil = no declaration
    */
  final case class Meta(
      schema: StructType,
      blockSize: Int = BtrFile.DefaultBlockSize,
      cascade: Int = BtrFile.DefaultCascadeDepth,
      partitionCols: Seq[String] = Nil,
      retainRemoved: Boolean = false,
      logRetention: Option[Int] = None,
      deletionVectors: Boolean = false,
      dvPurgeThreshold: Option[Double] = None,
      clusterBy: Seq[String] = Nil)

  /** The table's meta; `FileNotFoundException` when the table has none. */
  def read(fs: FileSystem, dir: Path): Meta =
    BtrJson.parseMeta(BtrJson.readFile(fs, new Path(dir, MetaFile)))

  /** None when the table has no meta yet (policy reads default). */
  def readIfExists(fs: FileSystem, dir: Path): Option[Meta] =
    try Some(read(fs, dir))
    catch { case _: java.io.FileNotFoundException => None }

  def write(
      fs: FileSystem,
      dir: Path,
      schema: StructType,
      blockSize: Int,
      cascade: Int,
      partitionCols: Seq[String] = Nil,
      // policy fields: None = PRESERVE the existing table's value (commit
      // paths rewrite the meta without knowing about policy); Some(x)
      // sets it; clusterBy Some(Nil) clears the declaration
      retainRemoved: Option[Boolean] = None,
      logRetention: Option[Int] = None,
      deletionVectors: Option[Boolean] = None,
      dvPurgeThreshold: Option[Double] = None,
      clusterBy: Option[Seq[String]] = None
  ): Unit = {
    val prior = readIfExists(fs, dir)
    val meta = Meta(schema, blockSize, cascade, partitionCols,
      retainRemoved.getOrElse(prior.exists(_.retainRemoved)),
      logRetention.orElse(prior.flatMap(_.logRetention)),
      deletionVectors.getOrElse(prior.exists(_.deletionVectors)),
      dvPurgeThreshold.orElse(prior.flatMap(_.dvPurgeThreshold)),
      clusterBy.getOrElse(prior.map(_.clusterBy).getOrElse(Nil)))
    BtrJson.publish(fs, new Path(dir, MetaFile), BtrJson.meta(meta))
  }

  // single-field reads; a caller that needs several fields calls read once
  def readSchema(fs: FileSystem, dir: Path): StructType = read(fs, dir).schema

  def readGeometry(fs: FileSystem, dir: Path): (Int, Int) = {
    val m = read(fs, dir)
    (m.blockSize, m.cascade)
  }

  def readPartitionCols(fs: FileSystem, dir: Path): Seq[String] = read(fs, dir).partitionCols

  def readRetainRemoved(fs: FileSystem, dir: Path): Boolean =
    readIfExists(fs, dir).exists(_.retainRemoved)

  def readDeletionVectors(fs: FileSystem, dir: Path): Boolean =
    readIfExists(fs, dir).exists(_.deletionVectors)

  def readLogRetention(fs: FileSystem, dir: Path): Option[Int] =
    readIfExists(fs, dir).flatMap(_.logRetention)

  def readClusterBy(fs: FileSystem, dir: Path): Seq[String] =
    readIfExists(fs, dir).map(_.clusterBy).getOrElse(Nil)

  /** Hive null-partition directory marker (shared by writer and pruner). */
  val NullPartition: String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** One discovered data file: path, file length and modification time
    * (from the listing -- no extra getFileStatus round-trip), hive-style
    * partition values. (len, modTime) doubles as the footer-index cache
    * validity key — the same freshness key Spark's shared file index uses.
    */
  final case class DataFileEntry(
      path: Path, len: Long, partitionValues: Map[String, String], modTime: Long = 0L)

  /** Recursive data-file listing with partition-dir parsing. Pending
    * swap journals are applied so a reader planning concurrently with (or
    * after a crash of) a compaction swap sees exactly-once rows: per
    * journal group, sources are hidden once every final is visible,
    * finals are hidden until then.
    */
  def listDataFilesWithPartitions(fs: FileSystem, rawDir: Path): Array[DataFileEntry] = {
    // qualify: journal keys below are compared against listStatus paths,
    // which are always fully qualified — a relative caller dir would make
    // every journal key miss `present` and hide fully-swapped finals
    val dir = fs.makeQualified(rawDir)
    if (!fs.exists(dir)) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFileEntry]
    def walk(d: Path, values: Map[String, String]): Unit = {
      fs.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val eq = name.indexOf('=')
          if (eq > 0 && !name.startsWith("_") && !name.startsWith(".")) {
            val k = unescapePath(name.substring(0, eq))
            val v = unescapePath(name.substring(eq + 1))
            walk(st.getPath, values + (k -> v))
          }
        } else if (name.endsWith(".btr") && !name.startsWith("_") && !name.startsWith(".")) {
          out += DataFileEntry(st.getPath, st.getLen, values, st.getModificationTime)
        }
      }
    }
    walk(dir, Map.empty)
    var listed = out.sortBy(_.path.toString).toArray
    // pending merge-on-read UPDATE/MERGE markers: their insert files are
    // invisible until the marker retires (the pre-update view — the
    // commit's deletes aren't applied yet either, see DvPendingPrefix)
    val pending = readDvPending(fs, dir)
    if (pending.nonEmpty) {
      val hidden = pending.flatMap(_._2).flatMap(_.finals)
        .map(rel => new Path(dir, rel).toUri.getPath).toSet
      listed = listed.filterNot(e => hidden.contains(e.path.toUri.getPath))
    }
    val journals = readSwapJournals(fs, dir)
    if (journals.isEmpty) return listed
    val exclude = scala.collection.mutable.HashSet.empty[String]
    val present = listed.map(_.path.toUri.getPath).toSet
    def key(g: SwapGroup, name: String): String = {
      val d = if (g.dir.isEmpty) dir else new Path(dir, g.dir)
      new Path(d, name).toUri.getPath
    }
    journals.foreach { case (_, groups) =>
      groups.foreach { g =>
        if (g.finals.forall(f => present(key(g, f))))
          g.sources.foreach(s => exclude += key(g, s))
        else
          g.finals.foreach(f => exclude += key(g, f))
      }
    }
    listed.filterNot(e => exclude(e.path.toUri.getPath))
  }

  // ---- swap journal: crash-atomic compaction swaps --------------------
  // A compactor replacing files writes `_btr_swap_<id>.json` at the table
  // root BEFORE its first rename: every swap group's directory (relative
  // to the root), final names, and superseded source names. The listing
  // applies each group as: ALL finals visible → the sources are
  // superseded duplicates (excluded); otherwise → the finals are excluded
  // (consistent pre-swap view — sources are still complete because the
  // swap deletes sources only after every rename landed). A crash at any
  // point therefore never exposes duplicated or missing rows; re-running
  // the compactor (or [[completeSwapJournals]]) converges the directory
  // and drops the journal. Delta keeps a full transaction log for the
  // same guarantee; a journal bounded to one swap is enough here because
  // btr commits are otherwise append-only renames.

  final case class SwapGroup(dir: String, finals: Seq[String], sources: Seq[String])

  private val SwapPrefix = "_btr_swap_"
  /** Pending merge-on-read UPDATE/MERGE commits: the marker lists the
    * commit's (already-renamed-or-renaming) insert files as `finals` and
    * its deletion-vector blobs as `sources`. While a marker is pending,
    * LISTINGS exclude its finals and scans ignore its blobs — readers
    * see the consistent PRE-update state; the marker's deletion (after
    * the log entry) flips them to the post-update state atomically.
    * Crash convergence: [[graft.sources.BtrDvOps.convergePending]].
    */
  private[graft] val DvPendingPrefix = "_btr_dvpending_"

  def writeDvPending(fs: FileSystem, root: Path, id: String,
      insertRels: Seq[String], blobRels: Seq[String]): Path =
    writeJournalFile(fs, root, s"$DvPendingPrefix$id.json",
      Seq(SwapGroup("", insertRels, blobRels)))

  def readDvPending(fs: FileSystem, root: Path): Seq[(Path, Seq[SwapGroup])] =
    readJournalsWithPrefix(fs, root, DvPendingPrefix)
  // completed swaps keep a done-marker (same JSON) instead of vanishing:
  // streaming readers map superseded sources -> finals through it, so a
  // compaction between two stream polls neither re-emits merged rows nor
  // needs a consumer maintenance window. Markers are tiny and bounded by
  // [[vacuumSwapMarkers]] (Delta retains removed-file tombstones for the
  // same reason).
  private val DonePrefix = "_btr_swapdone_"

  /** Atomically publish a swap journal (write temp, rename visible). */
  def writeSwapJournal(fs: FileSystem, root: Path, id: String, groups: Seq[SwapGroup]): Path =
    writeJournalFile(fs, root, s"$SwapPrefix$id.json", groups)

  /** A pending swap journal (or maintenance temp) younger than this is
    * presumed to belong to a LIVE writer and is left alone by entry-time
    * convergence and temp sweeps; only a crash leaves one to age past
    * the lease. This is what makes partition-disjoint maintenance
    * workers (`OPTIMIZE ... WHERE` sharded across partitions) safe to
    * run concurrently: without it, worker B's entry convergence could
    * roll back worker A's mid-rename journal — deleting finals A already
    * renamed while A goes on to remove their sources. Same idea as
    * [[graft.sources.BtrDvOps.InFlightLeaseMs]].
    */
  val MaintenanceLeaseMs: Long = 10L * 60 * 1000

  /** Pre-publication claims: a swap journal body parked under a prefix
    * that [[completeSwapJournals]] never ACTS on. The claim participates
    * in conflict detection (both racers see each other's) but is not
    * actionable — so it can be retracted without any window in which a
    * concurrent convergence pass could treat it as a real journal.
    * Intents are transient (they live for one listing inside
    * [[publishSwapJournalChecked]]); one older than [[MaintenanceLeaseMs]]
    * belongs to a crashed publisher, is ignored by conflict checks, and
    * is swept by [[completeSwapJournals]] — always safe, an intent
    * precedes every rename/delete of its operation.
    */
  private[graft] val IntentPrefix = "_btr_swapintent_"

  private[graft] def readFreshIntents(fs: FileSystem, root: Path): Seq[(Path, Seq[SwapGroup])] = {
    val now = System.currentTimeMillis()
    readJournalsWithPrefix(fs, root, IntentPrefix).filter { case (p, _) =>
      try now - fs.getFileStatus(p).getModificationTime < MaintenanceLeaseMs
      catch { case _: java.io.IOException => false } // retracted concurrently
    }
  }

  /** Publish a swap journal with a conflict re-check, via a two-step
    * claim: park the journal body under [[IntentPrefix]], RE-CHECK for
    * other pending journals or live intents claiming any of the same
    * source files, and only then promote the claim to an actionable
    * [[SwapPrefix]] journal (retract the intent and throw the standard
    * concurrent-commit conflict if the check fails — the caller's
    * cleanup/abort then sweeps its staged outputs; nothing was renamed).
    *
    * The re-check closes the two-in-flight window that per-operation
    * visibility checks cannot: two maintenance/rewrite writers can both
    * pass their pre-publish source-visibility checks before EITHER
    * publishes, and both would then replace the same sources —
    * duplicating (compact × compact) or resurrecting (compact ×
    * DELETE/rewrite) rows. Claim publication is atomically visible and
    * listings are consistent, so of two racers at least one lists AFTER
    * both claimed; whoever OBSERVES a conflict yields. (Both may observe
    * and both yield — safe, both retry; never do two proceed on shared
    * sources.) During promotion the swap journal is written BEFORE the
    * intent is dropped, so from first claim to retirement the operation's
    * sources are continuously claimed under at least one prefix.
    *
    * The intent step exists because a retractable REAL journal is unsafe:
    * a journal whose finals are all visible — trivially so for the
    * empty-finals delete-intent groups of [[graft.sources.BtrDelete]],
    * and equally for overwrite commits whose finals were renamed by task
    * commits — is "all complete" to a concurrent [[completeSwapJournals]]
    * pass (run at every table operation), which would converge it FORWARD
    * at any age, deleting the doomed sources inside the publish→retract
    * window. The conflict throw's "nothing was published" would then be
    * false, and readers could observe present→absent→present transients.
    * An intent is never converged, so the window does not exist.
    */
  def publishSwapJournalChecked(
      fs: FileSystem, root: Path, id: String, groups: Seq[SwapGroup],
      afterIntent: () => Unit = () => ()): Path = {
    val intent = writeJournalFile(fs, root, s"$IntentPrefix$id.json", groups)
    afterIntent() // test injection point: the claim is parked, not actionable
    def keyOf(dir: String, n: String): String = if (dir.isEmpty) n else s"$dir/$n"
    val mySources = groups.flatMap(g => g.sources.map(s => keyOf(g.dir, s))).toSet
    val clash = (readSwapJournals(fs, root) ++ readFreshIntents(fs, root))
      .filter(_._1.getName != intent.getName)
      .flatMap(_._2)
      .flatMap(g => g.sources.map(s => keyOf(g.dir, s)))
      .filter(mySources.contains)
    if (clash.nonEmpty) {
      fs.delete(intent, false)
      throw new IllegalStateException(
        s"btr: concurrent commit conflict at $root — another in-flight rewrite/" +
          s"maintenance journal claims ${clash.size} of this operation's source " +
          s"file(s) (e.g. ${clash.sorted.take(3).mkString(", ")}); this writer " +
          "yielded before renaming anything. Nothing was published; retry.")
    }
    val mine = writeSwapJournal(fs, root, id, groups)
    fs.delete(intent, false)
    mine
  }

  private def writeJournalFile(
      fs: FileSystem, root: Path, name: String, groups: Seq[SwapGroup]): Path = {
    val fin = new Path(root, name)
    BtrJson.publish(fs, fin, BtrJson.swapGroups(groups))
    fin
  }

  /** All pending swap journals at the root (journal path + its groups). */
  def readSwapJournals(fs: FileSystem, root: Path): Seq[(Path, Seq[SwapGroup])] =
    readJournalsWithPrefix(fs, root, SwapPrefix)

  /** Deletion-vector blob rels advertised as FINALS by pending swap
    * journals or live intents other than `excludeName` — a RESTORE
    * mid-resurrection: the masks for those blobs' TARGET data files are
    * about to return. A merge/rewrite whose sources include such a
    * target must yield (splicing the unmasked incarnation would
    * resurrect the re-masked rows); symmetrically the RESTORE yields
    * when a pending journal claims one of its blob targets as a source
    * (found by BtrRaceFuzzSpec seed 27182818 round 8: compact ×
    * restore→v both committed, masked rows resurrected into the merge).
    */
  def pendingBlobFinals(fs: FileSystem, root: Path, excludeName: String): Seq[String] =
    (readSwapJournals(fs, root) ++ readFreshIntents(fs, root))
      .filter(_._1.getName != excludeName)
      .flatMap(_._2)
      .flatMap(g => g.finals.map(f => if (g.dir.isEmpty) f else s"${g.dir}/$f"))
      .filter(DeletionVector.isDvRel)

  /** Done markers of completed swaps (source→final mappings for streams). */
  def readDoneSwapJournals(fs: FileSystem, root: Path): Seq[(Path, Seq[SwapGroup])] =
    readJournalsWithPrefix(fs, root, DonePrefix)

  private def readJournalsWithPrefix(
      fs: FileSystem, root: Path, prefix: String): Seq[(Path, Seq[SwapGroup])] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        // publish is atomic, so a journal that exists is whole: one that
        // does not parse is damage, and skipping it would un-hide both
        // sides of its swap. A journal retired between the listing and
        // the read is simply gone.
        val body =
          try Some(BtrJson.readFile(fs, st.getPath))
          catch { case _: java.io.FileNotFoundException => None }
        body.map { b =>
          try st.getPath -> BtrJson.parseSwapGroups(b)
          catch {
            case e: Exception => throw new IllegalStateException(
              s"btr: journal ${st.getPath} exists but does not parse", e)
          }
        }
      }
  }

  /** Finish (or roll back) every pending swap and retire its journal:
    * groups with all finals visible delete their leftover sources and are
    * recorded in a done-marker (streams need the source→final mapping,
    * see [[DonePrefix]]); incomplete groups delete any stray finals
    * (their sources are still complete) and leave no marker — nothing was
    * replaced. Idempotent — callers run it before starting a new swap.
    *
    * ROLLBACK of an incomplete journal requires it to be older than
    * `rollbackMinAgeMs` (default [[MaintenanceLeaseMs]]): an incomplete
    * young journal usually belongs to a LIVE writer mid-rename, and
    * rolling it back would delete finals it already renamed while it
    * goes on to remove their sources — losing rows. A journal whose
    * groups are ALL complete converges forward at any age (idempotent —
    * the live owner's own retirement no-ops). Pass 0 to force immediate
    * rollback (explicit crash recovery when no writer can be live).
    */
  def completeSwapJournals(fs: FileSystem, root: Path,
      rollbackMinAgeMs: Long = MaintenanceLeaseMs): Unit = {
    // sweep crashed publishers' claims (see [[IntentPrefix]]): an intent
    // precedes every rename/delete of its operation, so dropping a stale
    // one never loses work. Live intents (younger than the lease — or any
    // age under forced recovery, when no writer can be live) are left to
    // their owner.
    if (fs.exists(root)) {
      val now = System.currentTimeMillis()
      fs.listStatus(root)
        .filter(st => st.isFile && st.getPath.getName.startsWith(IntentPrefix) &&
          now - st.getModificationTime >= rollbackMinAgeMs)
        .foreach(st => fs.delete(st.getPath, false))
    }
    val retain = readRetainRemoved(fs, root)
    readSwapJournals(fs, root).foreach { case (journal, groups) =>
      val anyIncomplete = groups.exists { g =>
        val dir = if (g.dir.isEmpty) root else new Path(root, g.dir)
        !g.finals.forall(f => fs.exists(new Path(dir, f)))
      }
      val leaveAlone = anyIncomplete && rollbackMinAgeMs > 0 && {
        // a live writer is mid-rename: leave its journal pending (readers
        // hold the consistent pre-swap view); a crashed writer's journal
        // converges once the lease expires
        try System.currentTimeMillis() - fs.getFileStatus(journal).getModificationTime <
          rollbackMinAgeMs
        catch { case _: java.io.IOException => true } // retired concurrently: skip
      }
      if (!leaveAlone) {
        val completed = groups.filter { g =>
          val dir = if (g.dir.isEmpty) root else new Path(root, g.dir)
          val forward = g.finals.forall(f => fs.exists(new Path(dir, f)))
          if (forward) g.sources.foreach { s =>
            val rel = if (g.dir.isEmpty) s else s"${g.dir}/$s"
            BtrRetention.removeDataFile(fs, root, rel, retain)
          }
          else g.finals.foreach { f =>
            // rollback deletions route through retention too: a crashed
            // RESTORE's partially-resurrected files return to the store
            // instead of being lost (their store copies already moved out)
            val rel = if (g.dir.isEmpty) f else s"${g.dir}/$f"
            BtrRetention.removeDataFile(fs, root, rel, retain)
          }
          forward
        }
        val id = journal.getName.stripPrefix(SwapPrefix).stripSuffix(".json")
        // "nm-" journals (DML replacements: DELETE/UPDATE/MERGE/overwrite)
        // retire WITHOUT a done-marker — the swap is not row-preserving, so
        // a tailing stream must treat the finals as new data, never as
        // compaction merges of rows it already emitted
        if (completed.nonEmpty && !id.startsWith("nm-"))
          writeJournalFile(fs, root, s"$DonePrefix$id.json", completed)
        fs.delete(journal, false)
      }
    }
  }

  /** Delete done-markers older than `retentionMs` (by modification time).
    * A streaming reader that has not polled since before a marker's swap
    * relies on it to avoid re-emitting merged rows — size retention to
    * the longest consumer outage you tolerate, exactly like Delta's
    * removed-file tombstone retention.
    */
  def vacuumSwapMarkers(fs: FileSystem, root: Path, retentionMs: Long): Unit = {
    if (!fs.exists(root)) return
    val cutoff = System.currentTimeMillis() - retentionMs
    fs.listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.startsWith(DonePrefix) &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Delete orphaned hidden temporaries older than `retentionMs`: writer
    * temps (`_tmp_*` — a task that died mid-file never runs abort) and
    * row-level staging (`_rl_*` — a rewrite that crashed before its
    * journal published). They are invisible to every reader, so this is
    * pure disk hygiene; size retention WELL above the longest write or
    * DML statement you run (an in-flight task's temp looks identical to
    * an orphan). Metadata sidecars (`_btr_*`) are never touched.
    */
  /** Dry-run listing of the orphaned temps [[vacuumTemps]] would remove
    * (same walk, no deletes).
    */
  def listTemps(fs: FileSystem, root: Path, retentionMs: Long): Seq[Path] = {
    if (!fs.exists(root)) return Nil
    val cutoff = System.currentTimeMillis() - retentionMs
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    def sweep(d: Path): Unit = {
      val it = fs.listStatusIterator(d)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isDirectory && !name.startsWith("_") && !name.startsWith(".")) sweep(st.getPath)
        else if (st.isFile && (name.startsWith("_tmp_") || name.startsWith("_rl_")) &&
          st.getModificationTime < cutoff) out += st.getPath
      }
    }
    sweep(root)
    out.toSeq
  }

  def vacuumTemps(fs: FileSystem, root: Path, retentionMs: Long): Long = {
    if (!fs.exists(root)) return 0L
    val cutoff = System.currentTimeMillis() - retentionMs
    var removed = 0L
    def sweep(d: Path): Unit = {
      val it = fs.listStatusIterator(d)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        // same traversal guard as every reader walk: hidden ('_'/'.')
        // directories are opaque — this sweeper owns only the temps the
        // btr writers themselves drop beside data files
        if (st.isDirectory && !name.startsWith("_") && !name.startsWith(".")) sweep(st.getPath)
        else if (st.isFile && (name.startsWith("_tmp_") || name.startsWith("_rl_")) &&
          st.getModificationTime < cutoff) {
          if (fs.delete(st.getPath, false)) removed += 1
        }
      }
    }
    sweep(root)
    removed
  }

  /** Drop every swap journal and done-marker (overwrite-truncate: the
    * whole file set is replaced, so no mapping survives meaningfully).
    */
  def dropAllSwapState(fs: FileSystem, root: Path): Unit = {
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(st => st.isFile &&
        (st.getPath.getName.startsWith(SwapPrefix) || st.getPath.getName.startsWith(DonePrefix)))
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Hive-compatible path escaping for partition values (Spark's own
    * implementation, so layouts match what Hive/Spark tables produce).
    */
  def escapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  val StatsFile = "_btr_stats.json"

  /** One column's commit-time ingest stats: rows, nulls, raw vs
    * compressed bytes and their ratio, aggregated over one write's files.
    */
  final case class ColumnStats(column: String, rows: Long, nulls: Long,
      raw_bytes: Long, compressed_bytes: Long, ratio: Double)

  /** Publish the commit-time ingest stats: one JSON object per line, one
    * line per column ([[BtrJson.stats]]).
    */
  def writeStats(
      fs: FileSystem,
      dir: Path,
      colNames: Array[String],
      rows: Long,
      nulls: Array[Long],
      rawBytes: Array[Long],
      compBytes: Array[Long]
  ): Unit = {
    val cols = colNames.indices.map { c =>
      val ratio = if (compBytes(c) > 0) rawBytes(c).toDouble / compBytes(c) else 0.0
      ColumnStats(colNames(c), rows, nulls(c), rawBytes(c), compBytes(c), ratio)
    }
    BtrJson.publish(fs, new Path(dir, StatsFile), BtrJson.stats(cols))
  }

  /** The last write's ingest stats; empty when the table has none
    * (DELETE and row-level rewrites drop the sidecar).
    */
  def readStats(fs: FileSystem, dir: Path): Seq[ColumnStats] =
    try BtrJson.parseStats(BtrJson.readFile(fs, new Path(dir, StatsFile)))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Per-column decoded/compressed expansion ratios from `_btr_stats.json`
    * (commit-time ingest stats), for scan size estimation. Floored at 1.0:
    * a LARGER estimate is the safe direction for broadcast planning.
    * Advisory: empty when the stats file is missing or unreadable (e.g.
    * tables from very old writes); callers fall back to a configurable
    * factor.
    */
  def readStatsRatios(fs: FileSystem, dir: Path): Map[String, Double] =
    try readStats(fs, dir).filter(_.compressed_bytes > 0).map(s =>
      s.column -> math.max(s.raw_bytes.toDouble / s.compressed_bytes, 1.0)).toMap
    catch { case _: Exception => Map.empty }

  def listDataFiles(fs: FileSystem, dir: Path): Array[Path] = {
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir)
      .filter { st =>
        val name = st.getPath.getName
        // skip writer temp files (_tmp_part-*.btr) and hidden files: an
        // executor that died mid-write leaves an orphan temp that abort()
        // never cleaned, and its tail bytes are garbage
        st.isFile && name.endsWith(".btr") &&
          !name.startsWith("_") && !name.startsWith(".")
      }
      .map(_.getPath)
      .sortBy(_.getName)
  }

  /** Hadoop conf for listing/footer/data I/O: the Spark session's conf
    * when one is active (driver-side planning — carries fs.s3a/hdfs
    * settings the user configured on the session), else a fresh
    * `Configuration` (executor-side readers/writers, which load the same
    * core-site.xml from the executor classpath).
    */
  def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
}
