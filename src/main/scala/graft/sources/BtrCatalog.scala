package graft.sources

import java.util

import graft.format.{BtrFile, BtrTableMeta}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-addressed catalog for btr tables — the piece that turns the file
  * format into a full SQL DML surface: `DELETE FROM`, `INSERT [OVERWRITE]`
  * (static `PARTITION (...)` specs ride the overwrite-by-filter path,
  * `partitionOverwriteMode=dynamic` rides dynamic overwrite), CTAS, and
  * `DataFrameWriterV2.overwritePartitions()`. Register with
  *
  *   spark.sql.catalog.graft = graft.sources.BtrCatalog
  *   spark.sql.catalog.graft.warehouse = /data/tables   (optional)
  *
  * and address tables either by absolute path — `graft.`/data/t`` — or by
  * name under the warehouse root — `graft.db.t` → `<warehouse>/db/t`.
  * There is no metastore: a table IS its directory (`_btr_meta.json`
  * marks existence), so the catalog itself holds no state to lose and
  * every engine sees the same table the moment the commit renames.
  */
class BtrCatalog extends TableCatalog with FunctionCatalog {

  // ---- FunctionCatalog: the partition-transform functions -------------
  // Storage-partitioned joins resolve a scan's reported `bucket`
  // transform through the relation's FunctionCatalog; providing it here
  // lets two bucket-partitioned btr tables join with zero shuffle.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name().equalsIgnoreCase("bucket"))
      BtrBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  private var catalogName: String = "btr"
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    // absolute: a rooted local path OR a scheme-qualified URI (s3a://…,
    // hdfs://…) — resolving a URI under the warehouse would silently send
    // DML to a literal "s3a:" directory on the default filesystem
    // absolute = rooted path or any scheme-qualified Hadoop URI (both the
    // scheme://auth/path and the authority-less scheme:/path forms)
    def abs(s: String) = s.startsWith("/") || s.matches("[A-Za-z][A-Za-z0-9+.-]*:/.*")
    val parts = ident.namespace().toSeq :+ ident.name()
    val joined = parts.mkString("/")
    if (abs(joined)) joined
    // RENAME TO targets reach the catalog with the catalog name still in
    // the identifier ("graft"."/tmp/x"); strip it when what remains is an
    // absolute path (a RELATIVE name that happens to start with the
    // catalog's name stays intact)
    else if (parts.length > 1 && parts.head == catalogName && abs(parts.tail.mkString("/")))
      parts.tail.mkString("/")
    else warehouse match {
      case Some(w) => s"$w/$joined"
      case None => throw new IllegalArgumentException(
        s"btr catalog '$catalogName': relative table name '$joined' requires the " +
          s"'warehouse' option (spark.sql.catalog.$catalogName.warehouse); " +
          "absolute paths work without it: " + s"$catalogName.`/abs/path`")
    }
  }

  private def fsDir(path: String) = {
    val dir = new Path(path)
    (dir.getFileSystem(BtrTableMeta.hadoopConf()), dir)
  }

  /** Path-addressed: enumeration would mean walking the filesystem. */
  override def listTables(namespace: Array[String]): Array[Identifier] = Array.empty

  override def tableExists(ident: Identifier): Boolean = {
    val (fs, dir) = fsDir(pathOf(ident))
    fs.exists(new Path(dir, BtrTableMeta.MetaFile))
  }

  override def loadTable(ident: Identifier): Table = loadPinned(ident, None, None)

  /** `SELECT ... FROM t VERSION AS OF n` — a read-only view of snapshot n
    * from the `_btr_log/` sidecar (see [[BtrLog]]).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      try version.trim.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"btr: VERSION AS OF takes a snapshot number, got '$version'")
      }
    loadPinned(ident, Some(v), None)
  }

  /** `TIMESTAMP AS OF` — micros since epoch (Spark's TimeTravelSpec unit). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadPinned(ident, None, Some(timestampMicros))

  private def loadPinned(ident: Identifier,
      version: Option[Long], tsMicros: Option[Long]): Table = {
    val path = pathOf(ident)
    val (fs, dir) = fsDir(path)
    val meta = BtrTableMeta.readIfExists(fs, dir).getOrElse(throw new NoSuchTableException(ident))
    val parts = meta.partitionCols.map(c => graft.format.PartitionTransform.toV2(c)).toArray
    new BtrTable(path, meta.schema, parts, version, tsMicros)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = pathOf(ident)
    val (fs, dir) = fsDir(path)
    if (fs.exists(new Path(dir, BtrTableMeta.MetaFile)))
      throw new TableAlreadyExistsException(ident)
    // validate EVERYTHING before the meta write: persisting first would
    // leave a permanently broken table behind a failed CREATE (exists for
    // retries, unloadable for everyone)
    schema.fields.foreach { f =>
      require(graft.format.PhysType.supported(f.dataType),
        s"btr: unsupported column type ${f.name}: ${f.dataType}")
      require(!graft.format.BtrColumnMapping.reserved(f.name),
        s"btr: column name ${f.name} uses the reserved dropped-column prefix")
    }
    val partCols = partitions.toSeq.map { t =>
      val f = graft.format.PartitionTransform.fromV2(t)
      graft.format.PartitionTransform.validate(f, schema)
      f.serialized
    }
    // TBLPROPERTIES → table-meta policies (same keys as the write
    // options; table meta because every writer must see the same policy)
    def boolProp(k: String) = Option(properties.get(k)).map(_.trim.toBoolean)
    BtrTableMeta.write(fs, dir, schema, BtrFile.DefaultBlockSize, BtrFile.DefaultCascadeDepth,
      partCols,
      retainRemoved = boolProp("btr.retainRemoved"),
      logRetention = Option(properties.get("btr.logRetention")).map(_.trim.toInt),
      deletionVectors = boolProp("btr.deletionVectors"),
      dvPurgeThreshold = Option(properties.get("btr.dvPurgeThreshold")).map(_.trim.toDouble))
    new BtrTable(path, schema, partitions)
  }

  /** ALTER TABLE over the positional-footer layout: trailing nullable
    * ADD COLUMN (old files read the column as all-null via the footer's
    * missing-column sentinel), type-widening ALTER COLUMN (int→long,
    * float→double; old files decode under their own footer tag and
    * upcast), RENAME COLUMN (pure meta rename — footers map by position,
    * so no file is touched), and DROP COLUMN (the slot becomes a
    * reserved-named TOMBSTONE holding its position: scans never read it,
    * appends null-fill it, and re-adding the name creates a fresh slot so
    * old values can never resurrect — see
    * [[graft.format.BtrColumnMapping]]). Repositioning and narrowing
    * would mis-map existing files' footer columns and are rejected
    * loudly. Every change is one metadata-file rewrite; no data moves.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    val (fs, dir) = fsDir(path)
    val meta = BtrTableMeta.readIfExists(fs, dir).getOrElse(throw new NoSuchTableException(ident))
    var schema = meta.schema
    val partCols = meta.partitionCols
    // the guarded names: identity fields AND transform sources (renaming
    // or dropping `ts` under days(ts) would orphan the spec; dir values
    // of identity fields are typed under the recorded type)
    val partSources = partCols.map(c => graft.format.PartitionTransform.parse(c).source)
    import graft.format.BtrColumnMapping
    def liveNames = schema.fields.filterNot(BtrColumnMapping.isDropped).map(_.name)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "btr: nested ADD COLUMN unsupported")
        val colName = add.fieldNames()(0)
        require(add.position() == null,
          "btr: ADD COLUMN supports trailing position only (FIRST/AFTER would " +
            "remap existing files' footer columns)")
        require(!BtrColumnMapping.reserved(colName),
          s"btr: column name $colName uses the reserved dropped-column prefix")
        require(!liveNames.exists(_.equalsIgnoreCase(colName)),
          s"btr: column $colName already exists")
        require(graft.format.PhysType.supported(add.dataType()),
          s"btr: unsupported column type $colName: ${add.dataType()}")
        require(add.isNullable,
          s"btr: added column $colName must be nullable — files written before " +
            "the change read it as all-null")
        schema = StructType(schema.fields :+
          StructField(colName, add.dataType(), nullable = true))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1, "btr: nested RENAME COLUMN unsupported")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        val idx = schema.fields.indexWhere(f =>
          !BtrColumnMapping.isDropped(f) && f.name.equalsIgnoreCase(from))
        require(idx >= 0, s"btr: no such column $from")
        require(!partSources.exists(_.equalsIgnoreCase(from)),
          s"btr: cannot rename partition column $from (its name is encoded in " +
            "every directory path or referenced by a partition transform)")
        require(!BtrColumnMapping.reserved(to),
          s"btr: column name $to uses the reserved dropped-column prefix")
        require(!liveNames.exists(_.equalsIgnoreCase(to)),
          s"btr: column $to already exists")
        schema = StructType(schema.fields.updated(idx, schema.fields(idx).copy(name = to)))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "btr: nested DROP COLUMN unsupported")
        val colName = del.fieldNames()(0)
        val idx = schema.fields.indexWhere(f =>
          !BtrColumnMapping.isDropped(f) && f.name.equalsIgnoreCase(colName))
        if (idx < 0) {
          if (!del.ifExists())
            throw new IllegalArgumentException(s"btr: no such column $colName")
        } else {
          require(!partSources.exists(_.equalsIgnoreCase(colName)),
            s"btr: cannot drop partition column $colName (values are encoded in " +
              "directory names or referenced by a partition transform)")
          require(liveNames.count(n => !partSources.exists(_.equalsIgnoreCase(n))) > 1,
            s"btr: cannot drop $colName — a table needs at least one data column")
          schema = StructType(schema.fields.updated(idx,
            BtrColumnMapping.tombstone(idx, schema.fields(idx))))
        }
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1, "btr: nested ALTER COLUMN unsupported")
        val colName = upd.fieldNames()(0)
        val idx = schema.fields.indexWhere(f =>
          !BtrColumnMapping.isDropped(f) && f.name.equalsIgnoreCase(colName))
        require(idx >= 0, s"btr: no such column $colName")
        // identity fields refuse (dir values are typed strings under the
        // recorded type); transform sources may widen — bucket hashes int
        // values through the same mix64(long) path, truncate(int->long)
        // derives the identical dir string, so every existing directory
        // stays consistent with the widened derivation
        require(!graft.format.PartitionTransform.identityNames(partCols)
            .exists(_.equalsIgnoreCase(colName)),
          s"btr: cannot change the type of partition column $colName (values are " +
            "encoded in directory names under the recorded type)")
        val from = schema.fields(idx).dataType
        require(graft.format.BtrWidening.widensType(from, upd.newDataType()),
          s"btr: ALTER COLUMN $colName ${from.simpleString} -> " +
            s"${upd.newDataType().simpleString} is not a sanctioned widening " +
            "(int->long, float->double)")
        schema = StructType(schema.fields.updated(idx,
          schema.fields(idx).copy(dataType = upd.newDataType())))
      case sp: TableChange.SetProperty =>
        setPolicy(fs, dir, sp.property, Some(sp.value))
      case rp: TableChange.RemoveProperty =>
        setPolicy(fs, dir, rp.property, None)
      case other =>
        throw new UnsupportedOperationException(
          s"btr: unsupported ALTER TABLE change $other — supported: ADD COLUMN " +
            "(trailing, nullable), ALTER COLUMN TYPE (int->long, float->double), " +
            "SET/UNSET TBLPROPERTIES (btr.retainRemoved, btr.deletionVectors, " +
            "btr.logRetention, btr.dvPurgeThreshold, btr.clusterBy)")
    }
    BtrTableMeta.write(fs, dir, schema, meta.blockSize, meta.cascade, partCols)
    new BtrTable(path, schema,
      partCols.map(c => graft.format.PartitionTransform.toV2(c)).toArray)
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES for the table-meta policies.
    * Disabling deletion vectors while committed blobs exist would
    * RESURRECT the masked rows — refused until OPTIMIZE folds them in.
    */
  private def setPolicy(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      key: String, value: Option[String]): Unit = {
    val meta = BtrTableMeta.read(fs, dir)
    def write(retain: Option[Boolean] = None, keep: Option[Int] = None,
        dv: Option[Boolean] = None, purge: Option[Double] = None,
        cluster: Option[Seq[String]] = None): Unit =
      BtrTableMeta.write(fs, dir, meta.schema, meta.blockSize, meta.cascade, meta.partitionCols,
        retainRemoved = retain, logRetention = keep, deletionVectors = dv,
        dvPurgeThreshold = purge, clusterBy = cluster)
    key match {
      case "btr.retainRemoved" =>
        write(retain = Some(value.exists(_.trim.toBoolean)))
      case "btr.deletionVectors" =>
        val enable = value.exists(_.trim.toBoolean)
        if (!enable) {
          val root = fs.makeQualified(dir)
          val debt = BtrLog.latestVersion(fs, root)
            .map(v => BtrLog.resolveSnapshot(fs, root, v).files
              .count(graft.format.DeletionVector.isDvRel)).getOrElse(0)
          require(debt == 0,
            s"btr: cannot disable deletion vectors at $dir — $debt committed " +
              "blob(s) still mask rows (disabling would resurrect them); run " +
              "OPTIMIZE ... CLUSTER/ZORDER BY to fold the masks in first")
        }
        write(dv = Some(enable))
      case "btr.logRetention" =>
        value match {
          case Some(v) =>
            val n = v.trim.toInt
            require(n >= 2, s"btr.logRetention must be >= 2, got $n")
            write(keep = Some(n))
          case None =>
            // meta write PRESERVES absent options — rewrite without the key
            // by regenerating the json minus logRetention via a sentinel:
            // simplest correct form is writing the default back explicitly
            write(keep = Some(BtrLog.KeepEntries))
        }
      case "btr.dvPurgeThreshold" =>
        value match {
          case Some(v) =>
            val t = v.trim.toDouble
            require(t > 0 && t <= 1,
              s"btr.dvPurgeThreshold must be in (0, 1], got $t")
            write(purge = Some(t))
          case None =>
            // meta write PRESERVES absent options — write the engine
            // default back explicitly (same shape as logRetention UNSET)
            write(purge = Some(BtrCompact.DefaultDvPurgeThreshold))
        }
      case "btr.clusterBy" =>
        value match {
          case Some(v) =>
            val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
            require(cols.nonEmpty, "btr.clusterBy must name at least one column")
            val logical = graft.format.BtrColumnMapping.logical(meta.schema)
            cols.foreach { c =>
              require(logical.fieldNames.contains(c),
                s"btr.clusterBy column '$c' does not exist " +
                  s"(columns: ${logical.fieldNames.mkString(", ")})")
              require(!meta.partitionCols.contains(c),
                s"btr.clusterBy column '$c' is a partition column — partition " +
                  "values are constant within a file; clustering by them is a no-op")
            }
            write(cluster = Some(cols))
          case None => write(cluster = Some(Nil))
        }
      case other => throw new UnsupportedOperationException(
        s"btr: unsupported table property '$other' — supported: " +
          "btr.retainRemoved, btr.deletionVectors, btr.logRetention, " +
          "btr.dvPurgeThreshold, btr.clusterBy")
    }
  }

  /** A table is its directory; DROP removes it (explicit user intent). */
  override def dropTable(ident: Identifier): Boolean = {
    val (fs, dir) = fsDir(pathOf(ident))
    if (!fs.exists(new Path(dir, BtrTableMeta.MetaFile))) false
    else fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val (fs, oldDir) = fsDir(pathOf(oldIdent))
    if (!fs.exists(new Path(oldDir, BtrTableMeta.MetaFile)))
      throw new NoSuchTableException(oldIdent)
    val newDir = new Path(pathOf(newIdent))
    if (fs.exists(newDir)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(oldDir, newDir))
      throw new IllegalStateException(s"btr: rename $oldDir -> $newDir failed")
  }
}
