package graft.sources

import java.util

import graft.format.{BtrFile, BtrTableMeta, PhysType}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 entry point for the `btr` columnar format — the Spark
  * equivalent of the reference's file surface
  * (/root/reference/btrblocks/compression/BtrReader.hpp:12-45 read side,
  * Datablock::writeMetadata write side). Usage:
  *
  *   df.write.format("btr").mode("overwrite").save(path)
  *   spark.read.format("btr").load(path)
  */
class BtrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "btr"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "btr: 'path' option is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = new Path(pathOf(options))
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val base = BtrTableMeta.readSchema(fs, dir)
    // CDC stream reads surface the change-metadata columns
    if (BtrOptions.readChanges(options)) BtrCdc.withCdcColumns(base) else base
  }

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] = {
    val dir = new Path(pathOf(options))
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    BtrTableMeta.readIfExists(fs, dir).map(_.partitionCols).getOrElse(Nil)
      .map(c => graft.format.PartitionTransform.toV2(c)).toArray
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    val path = properties.get("path")
    require(path != null, "btr: 'path' option is required")
    new BtrTable(path, schema, partitioning)
  }
}

class BtrTable(path: String, tableSchema: StructType, partitionTransforms: Array[Transform] = Array.empty,
    // catalog time travel (`VERSION AS OF` / `TIMESTAMP AS OF`): reads
    // plan the pinned snapshot's file set; every mutation is refused
    asOfVersion: Option[Long] = None, asOfTimestampMicros: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with SupportsPartitionManagement {

  /** `_file` — the qualified data-file path of each row: provenance for
    * pipeline debugging (`SELECT _file, ...`), and the group identity the
    * row-level rewrite's runtime group filter prunes on. Suppressed when
    * a DATA column claims the name (data columns win conflicts — the
    * SupportsMetadataColumns contract).
    */
  override def metadataColumns(): Array[MetadataColumn] = {
    val file: Array[MetadataColumn] =
      if (!BtrScan.fileColActive(tableSchema)) Array.empty
      else Array(
        new MetadataColumn {
          override def name(): String = BtrScan.FileMetaCol
          override def dataType(): org.apache.spark.sql.types.DataType =
            org.apache.spark.sql.types.StringType
          override def isNullable: Boolean = false
          override def comment(): String =
            "qualified path of the data file the row was read from"
        })
    val pos: Array[MetadataColumn] =
      if (!BtrScan.posColActive(tableSchema)) Array.empty
      else Array(
        new MetadataColumn {
          override def name(): String = BtrScan.PosMetaCol
          override def dataType(): org.apache.spark.sql.types.DataType =
            org.apache.spark.sql.types.LongType
          override def isNullable: Boolean = false
          override def comment(): String =
            "0-based row ordinal within the row's data file"
        })
    file ++ pos
  }
  tableSchema.fields.foreach { f =>
    require(PhysType.supported(f.dataType), s"btr: unsupported column type ${f.name}: ${f.dataType}")
  }

  /** Serialized partition spec (hive-style layout): identity fields as
    * plain column names, transforms as `fn(source)` / `fn(arg,source)` —
    * see [[graft.format.PartitionTransform]]. Transform sources stay in
    * the data files; identity columns live in directory names only.
    */
  private val partCols: Seq[String] = partitionTransforms.toSeq.map(t =>
    graft.format.PartitionTransform.fromV2(t).serialized)
  partCols.foreach(c => graft.format.PartitionTransform.validate(
    graft.format.PartitionTransform.parse(c),
    graft.format.BtrColumnMapping.logical(tableSchema)))

  /** Column-mapping (dropped-column tombstones): the schema Spark sees
    * is the LOGICAL one (tombstones stripped); scans, row-level rewrites
    * and delete classification need the FULL slot schema (positions
    * index footer columns). When the given schema already carries
    * tombstones (catalog/inferSchema paths) it IS the slot schema; a
    * user-supplied logical schema falls back to the table meta.
    */
  private lazy val internalSchema: StructType = {
    val base =
      if (graft.format.BtrColumnMapping.hasTombstones(tableSchema)) tableSchema
      else {
        val dir = new Path(path)
        val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
        BtrTableMeta.readIfExists(fs, dir).map(_.schema)
          .filter(graft.format.BtrColumnMapping.hasTombstones).getOrElse(tableSchema)
      }
    // CDC columns appended by inferSchema must survive the meta-schema
    // fallback (a column-mapped table's meta lacks them)
    val cdcExtra = tableSchema.fields.filter(f =>
      BtrCdc.isCdcCol(f.name) && !base.fieldNames.contains(f.name))
    if (cdcExtra.isEmpty) base
    else org.apache.spark.sql.types.StructType(base.fields ++ cdcExtra)
  }

  private def pinned: Boolean = asOfVersion.isDefined || asOfTimestampMicros.isDefined

  private def refuseMutation(op: String): Unit =
    require(!pinned, s"btr: $op on a VERSION/TIMESTAMP AS OF snapshot is not allowed " +
      "(historical views are read-only)")

  override def name(): String =
    s"btr:$path${asOfVersion.map(v => s"@v$v").getOrElse("")}" +
      asOfTimestampMicros.map(t => s"@ts$t").getOrElse("")

  override def schema(): StructType = graft.format.BtrColumnMapping.logical(tableSchema)

  /** Table-meta policies surface through SHOW TBLPROPERTIES / DESCRIBE
    * EXTENDED; set via CREATE TBLPROPERTIES, write options, or ALTER
    * TABLE SET TBLPROPERTIES.
    */
  override def properties(): util.Map[String, String] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(graft.format.BtrTableMeta.hadoopConf())
    val m = new util.HashMap[String, String]()
    graft.format.BtrTableMeta.readIfExists(fs, dir).foreach { meta =>
      if (meta.retainRemoved) m.put("btr.retainRemoved", "true")
      if (meta.deletionVectors) m.put("btr.deletionVectors", "true")
      meta.logRetention.foreach(n => m.put("btr.logRetention", n.toString))
      meta.dvPurgeThreshold.foreach(t => m.put("btr.dvPurgeThreshold", t.toString))
      if (meta.clusterBy.nonEmpty) m.put("btr.clusterBy", meta.clusterBy.mkString(","))
    }
    m
  }

  // canonical transforms: a `.partitionBy("days(ts)")` arrives as a
  // pseudo-identity transform; report the parsed form
  override def partitioning(): Array[Transform] =
    partCols.map(c => graft.format.PartitionTransform.toV2(c)).toArray

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BtrScanBuilder(path, internalSchema, options, partCols, asOfVersion, asOfTimestampMicros)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseMutation("writing")
    new BtrWriteBuilder(path, info.schema(), info.options(), partCols)
  }

  // ---- row-level DELETE/UPDATE/MERGE (group-based copy-on-write) ------
  // Fully file-aligned DELETEs short-circuit to the metadata path below
  // via OptimizeMetadataOnlyDeleteFromTable; everything else rewrites
  // exactly the affected files (see BtrRowLevelOperation).
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo
  ): org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseMutation("a row-level operation")
    new BtrRowLevelOperationBuilder(path, internalSchema, partCols, info)
  }

  // ---- metadata-level DELETE (SupportsDelete) -------------------------
  // A predicate is deletable exactly when every file is provably all-match
  // or none-match from directory values + footer stats; the delete then
  // touches only metadata and matching files (see BtrDelete's scale note).
  // Spark probes canDeleteWhere then calls deleteWhere on the same table
  // instance — memoizing the probe's verdicts halves the listing + footer
  // I/O of every DELETE (files appearing in the gap simply survive, the
  // same race any concurrent append has with a filter-based delete)
  @volatile private var deleteProbe:
      (Array[org.apache.spark.sql.sources.Filter],
        Array[(graft.format.BtrTableMeta.DataFileEntry, BtrDelete.Verdict)]) = null

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val verdicts = BtrDelete.classifyAt(path, internalSchema, partCols, filters)
    deleteProbe = (filters, verdicts)
    verdicts.forall(_._2 != BtrDelete.Undecided)
  }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refuseMutation("DELETE")
    // consume the probe exactly once: a second DELETE with an identical
    // filter on this table instance must re-classify (files the first
    // delete removed, or appends in the gap, would otherwise replay a
    // stale verdict set)
    val probe = deleteProbe
    deleteProbe = null
    val cached =
      if (probe != null && (probe._1 sameElements filters)) Some(probe._2) else None
    BtrDelete.deleteWhere(path, internalSchema, partCols, filters, cached)
  }

  // ---- partition management (SHOW PARTITIONS / ALTER TABLE ... DROP
  // PARTITION / TRUNCATE ... PARTITION) --------------------------------
  // Partitions are the hive-style directories the writer lays down; they
  // have no standalone metadata, so listing derives from the same
  // journal-aware file listing scans plan against (an in-flight swap can
  // never surface a half-dropped partition), and dropping one is the
  // metadata-level DELETE of its directory — O(files-in-partition) driver
  // work, zero data I/O, crash-safe via the delete-intent journal.

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._

  override def partitionSchema(): StructType =
    StructType(partCols.map { c =>
      val f = graft.format.PartitionTransform.parse(c)
      if (f.isIdentity) tableSchema(tableSchema.fieldIndex(f.source))
      // transform fields expose the DERIVED directory value (a string):
      // SHOW PARTITIONS lists `ts_days=2026-08-15`, RENAME/DROP address it
      else StructField(f.dirName, StringType)
    })

  /** Hive directory value string → catalyst value of the column's type. */
  private def catalystPartValue(dt: DataType, s: String): Any =
    if (s == BtrTableMeta.NullPartition) null
    else dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case BooleanType => s.toBoolean
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampType => BtrPartTime.instantMicros(s)
      case TimestampNTZType => BtrPartTime.localMicros(s)
      case other =>
        throw new UnsupportedOperationException(s"btr: partition type $other")
    }

  /** Catalyst partition value → the sources.Filter literal DELETE takes. */
  private def filterLiteral(dt: DataType, v: Any): Any = dt match {
    case StringType => v.toString
    case TimestampType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToInstant(v.asInstanceOf[Long])
    case TimestampNTZType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])
    case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
    case _ => v
  }

  private def distinctPartitionRows(): Array[Array[Any]] = {
    val ps = partitionSchema()
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    BtrTableMeta.listDataFilesWithPartitions(fs, dir)
      .map(e => ps.fields.map(f =>
        catalystPartValue(f.dataType, e.partitionValues.getOrElse(f.name, BtrTableMeta.NullPartition))))
      .distinctBy(_.toSeq)
  }

  override def listPartitionIdentifiers(names: Array[String], ident: InternalRow): Array[InternalRow] = {
    require(names.length == ident.numFields,
      s"btr: partial spec names (${names.length}) != ident fields (${ident.numFields})")
    val ps = partitionSchema()
    val nameIdx = names.map(ps.fieldIndex)
    distinctPartitionRows()
      .filter { row =>
        nameIdx.indices.forall { i =>
          val dt = ps.fields(nameIdx(i)).dataType
          val want = if (ident.isNullAt(i)) null else ident.get(i, dt)
          val have = row(nameIdx(i))
          if (want == null || have == null) want == null && have == null else want == have
        }
      }
      .map(vs => new GenericInternalRow(vs): InternalRow)
  }

  /** Metadata DELETE of one partition directory's files. */
  private def deletePartitionRows(ident: InternalRow): Boolean = {
    refuseMutation("a partition drop/truncate")
    val ps = partitionSchema()
    require(ident.numFields == ps.length,
      s"btr: partition ident has ${ident.numFields} fields, expected ${ps.length}")
    if (listPartitionIdentifiers(ps.fieldNames, ident).isEmpty) return false
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      ps.fields.zipWithIndex.map { case (f, i) =>
        if (ident.isNullAt(i)) org.apache.spark.sql.sources.IsNull(f.name)
        else org.apache.spark.sql.sources.EqualTo(
          f.name, filterLiteral(f.dataType, ident.get(i, f.dataType)))
      }
    // transform fields filter on the DERIVED directory name: appending
    // them (string-typed) to the classification schema lets the
    // partition-value route decide every file; data columns keep their
    // footer indices (appended at the end, partition route always
    // settles first)
    val derived = partCols.map(graft.format.PartitionTransform.parse)
      .filterNot(_.isIdentity)
      .map(f => StructField(f.dirName, StringType))
    BtrDelete.deleteWhere(path, StructType(tableSchema.fields ++ derived),
      partCols, filters, None)
    true
  }

  override def dropPartition(ident: InternalRow): Boolean = deletePartitionRows(ident)

  // TRUNCATE TABLE t PARTITION (...) — same file drop; the directory
  // itself holds no other state, so truncate == drop for a path table
  override def truncatePartition(ident: InternalRow): Boolean = {
    if (!deletePartitionRows(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), ident, partitionSchema())
    true
  }

  /** Catalyst partition value → the writer's directory value string
    * (mirrors BtrPartitionedDataWriter.partValueString so a renamed
    * directory is byte-identical to one the writer lays down).
    */
  private def dirValueString(dt: DataType, v: Any): String = dt match {
    case StringType => v.toString
    case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
    case TimestampType => BtrPartTime.microsToInstantString(v.asInstanceOf[Long])
    case TimestampNTZType => BtrPartTime.microsToLocalString(v.asInstanceOf[Long])
    case _ => v.toString
  }

  private def partitionDir(root: Path, ident: InternalRow): Path = {
    val ps = partitionSchema()
    ps.fields.zipWithIndex.foldLeft(root) { case (d, (f, i)) =>
      val v =
        if (ident.isNullAt(i)) BtrTableMeta.NullPartition
        else dirValueString(f.dataType, ident.get(i, f.dataType))
      new Path(d, s"${BtrTableMeta.escapePath(f.name)}=${BtrTableMeta.escapePath(v)}")
    }
  }

  // ALTER TABLE ... PARTITION (...) RENAME TO PARTITION (...): a pure
  // directory move — no data I/O. The footer-index sidecar keys entries
  // by (relative path, len, modTime); moved files simply miss the cache
  // and re-read their footers lazily. Refused while a swap journal is
  // pending: journal groups name files relative to their directory, and
  // moving that directory mid-swap would break crash convergence.
  override def renamePartition(from: InternalRow, to: InternalRow): Boolean = {
    refuseMutation("RENAME PARTITION")
    val ps = partitionSchema()
    require(from.numFields == ps.length && to.numFields == ps.length,
      s"btr: partition idents must have ${ps.length} fields")
    if (listPartitionIdentifiers(ps.fieldNames, from).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), from, ps)
    if (listPartitionIdentifiers(ps.fieldNames, to).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        name(), to, ps)
    val root = new Path(path)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    require(BtrTableMeta.readSwapJournals(fs, fs.makeQualified(root)).isEmpty,
      "btr: rename refused while a swap journal is pending — run a read to converge it first")
    val src = partitionDir(root, from)
    val dst = partitionDir(root, to)
    // an empty (no visible data files) destination dir would swallow the
    // source as a CHILD under Hadoop rename semantics — clear it first
    if (fs.exists(dst)) fs.delete(dst, true)
    if (dst.getParent != null) fs.mkdirs(dst.getParent)
    val ok = fs.rename(src, dst)
    if (ok) BtrLog.record(fs, fs.makeQualified(root), "rename-partition")
    ok
  }

  override def createPartition(ident: InternalRow, properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "btr: partitions materialize on first write (hive-style file layout); " +
        "ADD PARTITION has nothing to create")

  override def replacePartitionMetadata(ident: InternalRow, properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("btr: partitions carry no metadata")

  override def loadPartitionMetadata(ident: InternalRow): util.Map[String, String] =
    util.Collections.emptyMap[String, String]()
}

/** Write-layout helper: range-cluster rows on the columns queries filter
  * by, so row-group min/max windows become disjoint and chunk skipping
  * prunes maximally (the layout discipline the reference assumes when it
  * relies on natural column order). `repartitionByRange` gives
  * non-overlapping per-file ranges; the within-partition sort gives
  * non-overlapping per-row-group ranges inside each file.
  */
object BtrLayout {
  def clusterBy(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      numFiles: Int = 0): org.apache.spark.sql.DataFrame = {
    require(cols.nonEmpty, "btr clusterBy: at least one column")
    val cs = cols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(fileCount(df, numFiles), cs: _*).sortWithinPartitions(cs: _*)
  }

  /** Z-order (Morton) clustering over NUMERIC/date/timestamp columns:
    * per-column quantile boundaries are sampled once on the driver
    * (bounded: (2^bits - 1) doubles per column at relativeError 0.01),
    * every row's bucket bits interleave in the codegen'd
    * [[graft.functions.ZValueExpr]], and the frame range-partitions +
    * sorts on that single z column. Rows end up close in EVERY clustered
    * dimension, so min/max chunk skipping prunes on all of them — range
    * clustering serves only its leading column.
    */
  def zOrderBy(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      numFiles: Int = 0, bits: Int = 8,
      // partitioned rewrites: these columns LEAD the range ordering so
      // rows stay within their partition directories; z interleaves only
      // the data columns
      prefix: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{array, col}
    require(cols.length >= 2, "btr zOrderBy: z-ordering needs at least two columns")
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    // ONE pass computes every column's boundaries (the multi-column
    // approxQuantile overload) — per-column calls would scan the full
    // table k times at the start of a maintenance job built for big tables
    val qNames = cols.indices.map(i => s"__q$i")
    val cast = df.select(cols.zip(qNames).map { case (c, q) => col(c).cast("double").as(q) }: _*)
    val bounds = cast.stat.approxQuantile(qNames.toArray, probs, 0.01).map(_.toSeq).toSeq
    val z = graft.functions.ZValueExpr.of(
      array(cols.map(col(_).cast("double")): _*), bounds, bits)
    val order = prefix.map(col) :+ col("__z")
    df.withColumn("__z", z)
      .repartitionByRange(fileCount(df, numFiles), order: _*)
      .sortWithinPartitions(order: _*)
      .drop("__z")
  }

  private def fileCount(df: org.apache.spark.sql.DataFrame, numFiles: Int): Int =
    if (numFiles > 0) numFiles
    else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
}

/** Shared session options for the format (writer side). */
object BtrOptions {
  def blockSize(options: CaseInsensitiveStringMap): Int =
    options.getInt("btr.blockSize", BtrFile.DefaultBlockSize)
  def cascade(options: CaseInsensitiveStringMap): Int =
    options.getInt("btr.maxCascadeDepth", BtrFile.DefaultCascadeDepth)
  /** Largest projected compressed bytes per read split: an unpartitioned
    * scan plans `P × ceil(bytes / (P × this))` equal shares (`P` =
    * [[splitParallelism]]), a partitioned one cuts each file at this size.
    */
  def splitBytes(options: CaseInsensitiveStringMap): Long =
    options.getLong("btr.maxSplitBytes", 128L * 1024 * 1024)

  /** Fallback decoded/compressed expansion for `sizeInBytes` when a column
    * has no commit-time stats — the analog of Spark's
    * `spark.sql.sources.fileCompressionFactor`, erring large so Catalyst
    * never auto-broadcasts a join side whose decoded footprint blows the
    * `autoBroadcastJoinThreshold` budget.
    */
  def expansionFactor(options: CaseInsensitiveStringMap): Double =
    options.getDouble("btr.expansionFactor", 4.0)

  /** Streaming-source admission control: cap the files admitted per
    * micro-batch (like FileStreamSource's maxFilesPerTrigger) so a large
    * backlog drains in bounded batches instead of one giant first batch.
    */
  def maxFilesPerTrigger(options: CaseInsensitiveStringMap): Option[Int] = {
    val v = options.getInt("btr.maxFilesPerTrigger", 0)
    if (v > 0) Some(v) else None
  }

  /** Tasks per wave of an unpartitioned scan (0 = the session's
    * defaultParallelism); 1 plans one split per maxSplitBytes.
    */
  def splitParallelism(options: CaseInsensitiveStringMap): Int =
    options.getInt("btr.splitParallelism", 0)

  /** Chunk-sampling read (`btr.sampleChunks` + `btr.sampleSeed`): plan a
    * seeded random subset of up to N row groups — the analog of the
    * reference's `Relation::getRanges(SplitStrategy::RANDOM,
    * max_chunk_count)` (storage/Relation.cpp:42-69), which its sampling
    * experiments use to measure scheme behavior on a bounded random slice
    * of a relation. Deterministic per seed (the reference seeds from
    * random_device; tests and repeated experiments want replayable
    * samples). A SAMPLING surface, not a query optimization: results are
    * intentionally a subset, so the option refuses DML/CDC scan shapes.
    */
  def sampleChunks(options: CaseInsensitiveStringMap): Option[Int] = {
    val v = options.getInt("btr.sampleChunks", 0)
    if (v > 0) Some(v) else None
  }

  def sampleSeed(options: CaseInsensitiveStringMap): Long =
    options.getLong("btr.sampleSeed", 42L)

  /** Write-side distribution mode (`btr.write.distribution`):
    *  - `auto` (default): partitioned tables require a CLUSTERED
    *    distribution on the partition columns (each partition's rows
    *    land in one task — one file per partition instead of one per
    *    task×partition) plus a task-local sort by partition then
    *    cluster columns; unpartitioned tables with a declared
    *    `btr.clusterBy` require an ORDERED (range) distribution so
    *    files carry disjoint cluster-key ranges.
    *  - `local`: no shuffle; only the task-local sort is requested
    *    (bounds open partition writers, files still arrive sorted).
    *  - `none`: no requirements at all (the caller owns the layout).
    */
  def writeDistribution(options: CaseInsensitiveStringMap): String = {
    val v = options.getOrDefault("btr.write.distribution", "auto").trim.toLowerCase
    require(v == "auto" || v == "local" || v == "none",
      s"btr.write.distribution must be auto|local|none, got '$v'")
    v
  }

  /** Partition spec for path-based first writes (`btr.partitionSpec`
    * write option): comma-separated transform entries, e.g.
    * `"region, days(ts), bucket(16,id)"`. Commas inside transform
    * arguments don't split.
    */
  def partitionSpec(options: CaseInsensitiveStringMap): Option[Seq[String]] =
    Option(options.get("btr.partitionSpec")).map { v =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var depth = 0
      v.foreach { c =>
        if (c == ',' && depth == 0) { out += sb.toString; sb.clear() }
        else {
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          sb.append(c)
        }
      }
      out += sb.toString
      out.map(_.trim).filter(_.nonEmpty).toSeq
    }

  /** Write-time clustering override (`btr.clusterBy` write option):
    * comma-separated column names; absent = the table's declared
    * `btr.clusterBy` TBLPROPERTIES.
    */
  def clusterBy(options: CaseInsensitiveStringMap): Option[Seq[String]] =
    Option(options.get("btr.clusterBy"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** Advisory shuffle-partition size for required write distributions
    * (AQE splits/coalesces the pre-write shuffle toward this many
    * bytes per task). 0 = the session's advisory size.
    */
  def writeAdvisoryPartitionBytes(options: CaseInsensitiveStringMap): Long =
    options.getLong("btr.write.advisoryPartitionBytes", 0L)

  /** Time travel: pin the read to a recorded snapshot version. */
  def versionAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("btr.versionAsOf")).map { s =>
      try s.trim.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"btr.versionAsOf must be a snapshot number, got '$s'")
      }
    }

  /** Time travel by time: micros since epoch, or an ISO-8601 instant /
    * `yyyy-MM-dd HH:mm:ss` UTC string.
    */
  def timestampAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("btr.timestampAsOf")).map { raw =>
      val s = raw.trim
      try s.toLong
      catch {
        case _: NumberFormatException =>
          try BtrPartTime.instantMicros(s)
          catch {
            case _: RuntimeException | _: java.time.DateTimeException =>
              try BtrPartTime.localMicros(s.replace(' ', 'T'))
              catch {
                case _: RuntimeException | _: java.time.DateTimeException =>
                  throw new IllegalArgumentException(
                    "btr.timestampAsOf must be micros since epoch or an " +
                      s"ISO-8601/`yyyy-MM-dd HH:mm:ss` UTC timestamp, got '$s'")
              }
          }
      }
    }

  /** CDC/stream start by TIME: same formats as btr.timestampAsOf;
    * resolves to the newest snapshot at-or-before the instant — the
    * stream then serves commits strictly after it.
    */
  def startingTimestamp(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("btr.startingTimestamp")).map { raw =>
      val s = raw.trim
      try s.toLong
      catch {
        case _: NumberFormatException =>
          try BtrPartTime.instantMicros(s)
          catch {
            case _: RuntimeException | _: java.time.DateTimeException =>
              try BtrPartTime.localMicros(s.replace(' ', 'T'))
              catch {
                case _: RuntimeException | _: java.time.DateTimeException =>
                  throw new IllegalArgumentException(
                    "btr.startingTimestamp must be micros since epoch or an " +
                      s"ISO-8601/`yyyy-MM-dd HH:mm:ss` UTC timestamp, got '$s'")
              }
          }
      }
    }

  /** Incremental change feed: plan only the files ADDED in
    * `(changesFromVersion, changesToVersion]` of the snapshot log
    * (default `to` = the latest version). Resolution and the
    * removed-history refusal live in [[BtrChanges.resolveAdded]].
    */
  def changesFromVersion(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("btr.changesFromVersion")).map { s =>
      try s.trim.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"btr.changesFromVersion must be a snapshot number, got '$s'")
      }
    }

  def changesToVersion(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("btr.changesToVersion")).map { s =>
      try s.trim.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"btr.changesToVersion must be a snapshot number, got '$s'")
      }
    }

  /** Change-feed side: `insert` (default; STRICT — refuses removed
    * history), `insert-lenient` (inserts of a removal-crossing range;
    * BtrChanges pairs it with the delete side), `delete` (the files
    * REMOVED in the range, resolved through the retention store).
    */
  def changesSide(options: CaseInsensitiveStringMap): String = {
    val s = Option(options.get("btr.changesSide")).map(_.trim.toLowerCase).getOrElse("insert")
    require(s == "insert" || s == "insert-lenient" || s == "delete" ||
      s == "dv-delete" || s == "dv-insert",
      s"btr.changesSide must be insert | insert-lenient | delete | dv-delete | " +
        s"dv-insert, got '$s'")
    s
  }

  /** The single commit version a `dv-delete`/`dv-insert` side serves
    * (deletion-vector change events attribute per commit).
    */
  def changesDvVersion(options: CaseInsensitiveStringMap): Long = {
    val s = Option(options.get("btr.changesDvVersion")).getOrElse(
      throw new IllegalArgumentException(
        "btr: changesSide dv-delete/dv-insert requires btr.changesDvVersion"))
    try s.trim.toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"btr.changesDvVersion must be a snapshot number, got '$s'")
    }
  }

  /** Opt-in retention of removed files (table meta flag; see
    * BtrRetention). None = leave the table's recorded policy unchanged.
    */
  def retainRemoved(options: CaseInsensitiveStringMap): Option[Boolean] =
    Option(options.get("btr.retainRemoved")).map(_.trim.toBoolean)

  /** Per-table snapshot-log retention (entries kept by prune). None =
    * leave the table's recorded policy unchanged (engine default 64).
    * The bound caps CDC consumer lag: a consumer further behind than
    * the retained history must re-bootstrap, so a table feeding slow
    * consumers wants a higher value.
    */
  /** Merge-on-read deletion vectors (table meta flag; see
    * graft.format.DeletionVector). None = leave the table's recorded
    * policy unchanged.
    */
  def deletionVectors(options: CaseInsensitiveStringMap): Option[Boolean] =
    Option(options.get("btr.deletionVectors")).map(_.trim.toBoolean)

  /** Idempotent batch append identity (`btr.txnAppId` + `btr.txnVersion`,
    * Delta's txn semantics): replaying a (appId, version) the retained
    * log already records — at that version or newer — commits NOTHING
    * and succeeds silently, so a retried pipeline job can never append
    * its rows twice. Both options or neither.
    */
  def txn(options: CaseInsensitiveStringMap): Option[(String, Long)] = {
    val app = Option(options.get("btr.txnAppId")).map(_.trim).filter(_.nonEmpty)
    val ver = Option(options.get("btr.txnVersion")).map { s =>
      try s.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"btr.txnVersion must be a number, got '$s'")
      }
    }
    (app, ver) match {
      case (Some(a), Some(v)) => Some(a -> v)
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "btr: btr.txnAppId and btr.txnVersion must be set together")
    }
  }

  def logRetention(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("btr.logRetention")).map { s =>
      val n =
        try s.trim.toInt
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"btr.logRetention must be a positive entry count, got '$s'")
        }
      require(n >= 2,
        s"btr.logRetention must be >= 2 (the latest entry plus a resolvable base), got $n")
      n
    }

  /** Streaming CDC read (`spark.readStream ... option("btr.readChanges",
    * "true")`): rows arrive with `_change_type` / `_commit_version`
    * columns, offsets are snapshot-log VERSIONS, and removal-crossing
    * commits on a retained table emit row-level deletes — the streaming
    * half of BtrChanges.between.
    */
  def readChanges(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("btr.readChanges")).exists(_.trim.toBoolean)

  /** Streaming source: begin AFTER snapshot `startingVersion` — the
    * snapshot's files seed the seen-set on a FRESH checkpoint, so the
    * stream emits only data committed later (the streaming half of the
    * change-feed story; `latest` = only data arriving after stream
    * start). Ignored on recovery — the checkpoint's own seen-set wins.
    */
  def startingVersion(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("btr.startingVersion")).map { raw =>
      val s = raw.trim
      if (s.equalsIgnoreCase("latest")) "latest"
      else {
        try { s.toLong; s }
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"btr.startingVersion must be a snapshot number or 'latest', got '$s'")
        }
      }
    }

  /** Streaming-sink auto-compaction: when > 0, every
    * [[BtrStreamingWrite.IndexRefreshEpochs]] epochs the sink counts
    * visible files smaller than half the target and, at or above this
    * threshold, runs the footer-level compactor inline (epochs Spark may
    * still retry are excluded — see BtrStreamingWrite.commit).
    */
  def autoCompactMinFiles(options: CaseInsensitiveStringMap): Int =
    options.getInt("btr.autoCompact.minFiles", 0)

  def autoCompactTargetBytes(options: CaseInsensitiveStringMap): Long =
    options.getLong("btr.autoCompact.targetBytes", 128L * 1024 * 1024)

  /** Scheme-selection config: `btr.schemes` (comma list of enabled scheme
    * names), `btr.forceScheme.{int,double,string}`, and `btr.selection`
    * in {sample (default), tryall, full}.
    */
  def config(options: CaseInsensitiveStringMap): graft.format.BtrConfig =
    graft.format.BtrConfig.fromOptions(k => Option(options.get(k)))
}
