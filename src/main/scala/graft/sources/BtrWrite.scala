package graft.sources

import graft.format._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Write path: each Spark task buffers rows into 65,536-row groups, runs
  * per-column stats + scheme selection + cascading encode, and streams one
  * `.btr` file — the task-parallel analog of the reference's per-column
  * TBB compression loop (/root/reference/tools/conversion/csvtobtr.cpp:148,
  * ColumnPart packing storage/Chunk.hpp:95-113). The driver's commit writes
  * `_btr_meta.json` (analog of Datablock::writeMetadata,
  * compression/Datablock.cpp:27-52).
  *
  * Scale notes: no driver-side data movement — tasks write files directly;
  * commit only renames/records. Writers emit to a temp name and rename on
  * task commit so speculative/failed attempts never surface.
  */
class BtrWriteBuilder(path: String, schema: StructType, options: CaseInsensitiveStringMap,
    partColsIn: Seq[String] = Nil)
    extends WriteBuilder
    with SupportsOverwrite
    with SupportsDynamicOverwrite {

  /** Path writes declare a TRANSFORM spec on first write via the
    * `btr.partitionSpec` option ("days(ts), bucket(16,id)") —
    * `DataFrameWriter.partitionBy` parses plain identifiers only. An
    * existing table's layout always wins (mismatches refuse in
    * checkAppendCompatible).
    */
  private val partCols: Seq[String] =
    if (partColsIn.nonEmpty) partColsIn
    else BtrOptions.partitionSpec(options).map { spec =>
      spec.map { s =>
        val f = graft.format.PartitionTransform.parse(s)
        graft.format.PartitionTransform.validate(f, schema)
        f.serialized
      }
    }.getOrElse {
      // spec-less path append to an existing table: the layout comes
      // from the table meta (Spark's path-write flow hands the builder
      // the DataFrame schema and empty partitioning)
      val dir = new Path(path)
      BtrTableMeta.readIfExists(dir.getFileSystem(BtrTableMeta.hadoopConf()), dir)
        .map(_.partitionCols).getOrElse(Nil)
    }

  private var mode: BtrOverwriteMode = BtrOverwriteMode.Append
  private def truncateOnCommit = mode == BtrOverwriteMode.Truncate

  override def truncate(): WriteBuilder = { mode = BtrOverwriteMode.Truncate; this }

  /** Overwrite-by-filter (`OverwriteByExpression`): rows matching the
    * condition are replaced by this write's data. The TRUE condition is a
    * truncate; anything else resolves through the metadata-delete
    * classifier — the condition must split cleanly at file boundaries
    * (partition predicates always do), validated fail-fast at build so a
    * non-expressible overwrite dies before the write job runs.
    */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.isEmpty ||
      filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      mode = BtrOverwriteMode.Truncate
    else mode = BtrOverwriteMode.ByFilter(filters)
    this
  }

  /** INSERT OVERWRITE with `partitionOverwriteMode=dynamic`: only the
    * partitions this write actually produces rows for are replaced;
    * untouched partitions keep their files. On an unpartitioned table
    * dynamic overwrite degenerates to truncate (Spark's semantics).
    */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = if (partCols.isEmpty) BtrOverwriteMode.Truncate else BtrOverwriteMode.Dynamic
    this
  }

  /** Appends (batch mode "append" and every streaming epoch) must keep
    * the existing column layout as an exact PREFIX in order and types:
    * the scan maps table-schema positions onto per-file footer columns,
    * so a reordered/retyped append would silently decode the wrong
    * blocks of the older files. Appending NEW columns at the end is
    * schema evolution — the table meta widens to the new schema and
    * older files read the added columns as all-null (their footers
    * simply carry fewer columns). Overwrite (truncate) replaces the
    * table and may change the schema freely. Nullability may differ
    * (footers carry per-chunk null counts).
    */
  private def checkAppendCompatible(): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val meta = BtrTableMeta.readIfExists(fs, dir).getOrElse(return)
    // appends validate against the LOGICAL schema: tombstoned slots are
    // the writer's business (it null-fills them), not the caller's
    val existing = graft.format.BtrColumnMapping.logical(meta.schema)
    // prefix match by name, with type equality relaxed to the sanctioned
    // widening pairs (int→long, float→double) in EITHER direction: a
    // wider append widens the table meta; a narrow append into an
    // already-widened table just writes narrow files (both read via the
    // per-file footer tag + upcast)
    val ok = schema.fields.length >= existing.fields.length &&
      existing.fields.zip(schema.fields).forall { case (e, f) =>
        e.name == f.name && graft.format.BtrWidening.compatible(e.dataType, f.dataType)
      }
    require(ok,
      s"btr: append schema does not extend the existing table at $path " +
        s"(existing: ${existing.simpleString}; appending: ${schema.simpleString}). " +
        "Appends may add new columns at the END or widen int->long / " +
        "float->double only; use overwrite to replace the table with an " +
        "incompatible schema.")
    val existingParts = meta.partitionCols
      .map(c => graft.format.PartitionTransform.parse(c).serialized)
    require(existingParts == partCols.map(c =>
        graft.format.PartitionTransform.parse(c).serialized),
      s"btr: append partitioning ${partCols.mkString("[", ",", "]")} does not match the " +
        s"existing layout ${existingParts.mkString("[", ",", "]")} at $path")
  }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    // ---- write-time layout (distribution + ordering) ------------------
    // Declared once here so batch appends, overwrites, CTAS and every
    // streaming epoch get the same shape: partitioned tables cluster rows
    // by partition value BEFORE the writers (one file per partition, not
    // one per task×partition — the small-files failure of naive
    // partitioned appends at fleet scale), and a declared `btr.clusterBy`
    // sorts rows inside each task so fresh files carry tight min/max
    // ranges for chunk skipping without waiting for OPTIMIZE.
    private val layout = BtrWriteLayout(path, schema, options, partCols)

    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      layout.distribution
    override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      layout.ordering
    override def distributionStrictlyRequired(): Boolean = layout.strictly
    override def advisoryPartitionSizeInBytes(): Long = layout.advisoryBytes

    override def toBatch: BatchWrite = {
      // by-filter and dynamic overwrites replace a SUBSET of files, so the
      // surviving files' layout must stay compatible — same contract as an
      // append. Fail-fast: a by-filter condition that can't split at file
      // boundaries aborts here, before the write job burns cluster time
      if (!truncateOnCommit) checkAppendCompatible()
      mode match {
        case BtrOverwriteMode.ByFilter(fs) =>
          // classify against the META schema (slot positions index footer
          // columns — the incoming logical schema skips tombstoned slots)
          val dir = new Path(path)
          val hfs = dir.getFileSystem(BtrTableMeta.hadoopConf())
          val classifySchema =
            BtrTableMeta.readIfExists(hfs, dir).map(_.schema).getOrElse(schema)
          require(BtrDelete.canDelete(path, classifySchema, partCols, fs),
            s"btr: overwrite condition does not align with file boundaries at $path — " +
              "use partition-column predicates, or read + filter + full overwrite")
        case _ => ()
      }
      new BtrBatchWrite(path, schema, mode, BtrOptions.blockSize(options),
        BtrOptions.cascade(options), BtrOptions.config(options), partCols,
        retainOpt = BtrOptions.retainRemoved(options),
        logRetentionOpt = BtrOptions.logRetention(options),
        dvOpt = BtrOptions.deletionVectors(options),
        txnOpt = BtrOptions.txn(options))
    }
    override def toStreaming: streaming.StreamingWrite = {
      // Complete/Update modes arrive as truncate(); the sink only ever
      // appends epoch files, so honoring them silently would duplicate
      // every prior epoch's rows — refuse loudly
      require(mode == BtrOverwriteMode.Append,
        "btr streaming sink supports Append output mode only (Complete/Update " +
          "would re-append each epoch's full result set)")
      checkAppendCompatible() // every epoch appends
      new BtrStreamingWrite(path, schema, BtrOptions.blockSize(options),
        BtrOptions.cascade(options), BtrOptions.config(options), partCols,
        BtrOptions.autoCompactMinFiles(options), BtrOptions.autoCompactTargetBytes(options))
    }
  }
}

/** Write-time distribution + ordering (the DSv2
  * `RequiresDistributionAndOrdering` surface), resolved once per write.
  *
  * Shapes (mode `auto`, the default):
  *  - Partitioned table: CLUSTERED distribution on the partition columns,
  *    non-strict — Spark plans a `RebalancePartitions`, which AQE both
  *    coalesces (many tiny partitions share a task) and SPLITS on skew
  *    (one huge partition fans out over several tasks, a few
  *    size-proportional files instead of one giant or task×partition
  *    many). Strict hash clustering would collapse a daily-partitioned
  *    fleet-scale load to one task per day — explicitly avoided.
  *  - Unpartitioned table with declared/overridden `btr.clusterBy`:
  *    strict ORDERED (range) distribution — the range partitioner's
  *    sampling balances skew and files land with DISJOINT cluster-key
  *    ranges, so chunk skipping prunes whole files immediately.
  *  - Both: a task-local sort by partition-then-cluster columns, so
  *    each partition's rows arrive contiguous (the fan-out writer keeps
  *    one open file, never thrashing eviction) and chunk min/max stay
  *    tight.
  * Mode `local` keeps only the task-local sort; `none` requests nothing.
  */
final case class BtrWriteLayout(
    distribution: org.apache.spark.sql.connector.distributions.Distribution,
    ordering: Array[org.apache.spark.sql.connector.expressions.SortOrder],
    strictly: Boolean,
    advisoryBytes: Long)

object BtrWriteLayout {
  import org.apache.spark.sql.connector.distributions.Distributions
  import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions, SortDirection, SortOrder}

  def apply(path: String, schema: StructType, options: CaseInsensitiveStringMap,
      partCols: Seq[String]): BtrWriteLayout = {
    val mode = BtrOptions.writeDistribution(options)
    if (mode == "none")
      return BtrWriteLayout(Distributions.unspecified(), Array.empty[SortOrder],
        strictly = false, advisoryBytes = 0L)
    val cluster = BtrOptions.clusterBy(options).getOrElse {
      val dir = new Path(path)
      BtrTableMeta.readClusterBy(dir.getFileSystem(BtrTableMeta.hadoopConf()), dir)
    }
    cluster.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"btr.clusterBy column '$c' is not a column of the write schema " +
          s"${schema.fieldNames.mkString("[", ",", "]")}")
      require(!partCols.contains(c),
        s"btr.clusterBy column '$c' is a partition column — partition values " +
          "are constant within a file; clustering by them is a no-op")
    }
    val fields = partCols.map(graft.format.PartitionTransform.parse)
    val ordering: Array[SortOrder] =
      (fields.map(_.source) ++ cluster).distinct.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
    val advisory = BtrOptions.writeAdvisoryPartitionBytes(options)
    if (mode == "local" || ordering.isEmpty)
      BtrWriteLayout(Distributions.unspecified(), ordering, strictly = false, advisory)
    else if (fields.exists(!_.isIdentity))
      // transform partitioning: range-distribute by the SOURCE columns —
      // a range task covers a contiguous source slice, i.e. a handful of
      // whole days/buckets' prefixes, so dirs converge to few files
      // without resolving the derived expression (which would need a V2
      // FunctionCatalog); the task-local sort keeps each dir contiguous
      BtrWriteLayout(Distributions.ordered(ordering), ordering, strictly = true, advisory)
    else if (partCols.nonEmpty)
      BtrWriteLayout(
        Distributions.clustered(partCols.map(c => Expressions.identity(c): VExpression).toArray),
        ordering, strictly = false, advisory)
    else
      BtrWriteLayout(Distributions.ordered(ordering), ordering, strictly = true, advisory)
  }
}

/** Streaming sink: each epoch appends btr files named deterministically
  * by (epoch, partition) — a re-attempted epoch deletes its own previous
  * file before renaming (Hadoop rename never clobbers), keeping the sink
  * idempotent per epoch. With partition columns, rows fan out to
  * hive-style directories and the deterministic name repeats per
  * directory (unique within each). Commit writes the table meta so
  * readers see the appended epochs.
  */
class BtrStreamingWrite(path: String, schema: StructType, blockSize: Int, cascade: Int,
    cfg: BtrConfig, partCols: Seq[String] = Nil,
    autoCompactMinFiles: Int = 0, autoCompactTargetBytes: Long = 128L * 1024 * 1024)
    extends streaming.StreamingWrite {

  locally {
    val dir = new Path(path)
    graft.format.BtrFs.requireCommitCapable(
      dir.getFileSystem(BtrTableMeta.hadoopConf()), dir)
  }

  // column-mapped tables: every epoch writes the physical slot layout
  // (same translation as batch appends)
  private lazy val slotLayout: Option[BtrSlotLayout] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    BtrTableMeta.readIfExists(fs, dir).map(_.schema)
      .filter(graft.format.BtrColumnMapping.hasTombstones).map { metaSchema =>
        val metaData = metaSchema.fields.filterNot(f => partCols.contains(f.name))
        val dataFields = schema.fields.filterNot(f => partCols.contains(f.name))
        val (phys, ords) = graft.format.BtrColumnMapping.slotLayout(metaData, dataFields)
        BtrSlotLayout(phys, ords)
      }
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    if (partCols.isEmpty) BtrStreamingWriterFactory(path, schema, blockSize, cascade, cfg, slotLayout)
    else BtrPartitionedStreamingWriterFactory(path, schema, partCols, blockSize, cascade, cfg,
      slots = slotLayout)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    BtrTableMeta.write(fs, dir, BtrWriteSchemas.widened(fs, dir, schema), blockSize, cascade, partCols)
    // footer reads are incremental but the index WRITE is total (one
    // sequential sidecar rewrite) — refreshing every epoch would write
    // O(files) bytes per micro-batch on a long-running stream. The index
    // is advisory (uncovered epochs fall back to bounded tail-reads), so
    // refresh periodically; compaction re-covers the table anyway.
    if (epochId % BtrStreamingWrite.IndexRefreshEpochs == 0)
      BtrFooters.refreshIndex(fs, dir)
    // snapshot log EVERY epoch: a delta entry of just this epoch's files
    // is O(epoch), not O(table), so per-micro-batch recording is cheap —
    // and gives startingVersion/time-travel per-epoch granularity. A
    // retried epoch re-adds its own deterministic name (replay add wins)
    val epochFiles = messages.flatMap {
      case m: BtrCommitMessage => Seq(m)
      case m: BtrMultiCommitMessage => m.messages.toSeq
      case _ => Nil
    }.map(_.fileName).filter(_.nonEmpty).toSeq
    BtrLog.recordDelta(fs, dir, "epoch", added = epochFiles, removed = Nil)
    // ---- auto-compaction (btr.autoCompact.minFiles > 0) ---------------
    // A long-running stream appends one small file per (epoch, task) —
    // unbounded file growth is the #1 operational failure of streaming
    // file sinks at scale. On the index-refresh cadence, count visible
    // small files and fold them with the footer-level compactor (byte
    // splice, journaled swap — the btr streaming SOURCE stays
    // exactly-once across it). Epochs Spark may still retry after a
    // crash (this one and the previous) are excluded: a retried epoch
    // deletes-then-rewrites its deterministic file name, and merging it
    // first would turn that retry into duplicate rows. Failures only log:
    // the epoch's data is already durable — maintenance must never fail
    // a commit.
    if (autoCompactMinFiles > 0 && epochId % BtrStreamingWrite.IndexRefreshEpochs == 0) {
      try {
        val visible = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
        val small = visible.count(_.len < autoCompactTargetBytes / 2)
        if (small >= autoCompactMinFiles) {
          val spark = org.apache.spark.sql.SparkSession.active
          BtrCompact.compact(spark, path, autoCompactTargetBytes,
            keep = e => BtrStreamingWrite.epochOf(e.path.getName).forall(_ < epochId - 1))
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[btr] auto-compact at $path failed (epoch $epochId): ${e.getMessage}")
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    messages.flatMap {
      case m: BtrCommitMessage => Seq(m)
      case m: BtrMultiCommitMessage => m.messages.toSeq
      case _ => Nil
    }.foreach { m =>
      if (m.fileName.nonEmpty) fs.delete(new Path(dir, m.fileName), false)
    }
  }
}

object BtrStreamingWrite {
  /** Epoch cadence of footer-index sidecar rewrites (the write is
    * O(files) even though reads are incremental).
    */
  val IndexRefreshEpochs = 8

  private val EpochName = """part-e(\d+)-.*""".r

  /** Epoch id encoded in a streaming sink file name; None for batch /
    * compacted files (which have no retry hazard).
    */
  def epochOf(name: String): Option[Long] = name match {
    case EpochName(id) => Some(id.toLong)
    case _ => None
  }
}

/** Schema recorded at append commits: columns ADDED by this append are
  * forced nullable (files written before the widening read them as all
  * null), and an existing column stays nullable if it ever was (older
  * files may hold nulls the appending frame's schema doesn't admit —
  * recording non-null would let Catalyst constant-fold IsNull away over
  * data that does contain nulls).
  */
object BtrWriteSchemas {
  def widened(fs: org.apache.hadoop.fs.FileSystem, dir: Path, schema: StructType): StructType = {
    val metaSchema = BtrTableMeta.readIfExists(fs, dir).getOrElse(return schema).schema
    if (graft.format.BtrColumnMapping.hasTombstones(metaSchema))
      return widenedSlots(dir, metaSchema, schema)
    val existing = metaSchema
    // checkAppendCompatible validated against a meta read at BUILD time;
    // the meta re-read here may have moved under a concurrent append. The
    // overlapping prefix must still agree by name, and by type up to the
    // sanctioned widening pairs — silently merging would let two
    // concurrent appends that each added a DIFFERENT column at the same
    // index rewrite each other's meta, so the loser's files decode their
    // chunks under the wrong column.
    schema.fields.zip(existing.fields).zipWithIndex.foreach { case ((f, e), i) =>
      if (f.name != e.name || !graft.format.BtrWidening.compatible(f.dataType, e.dataType))
        throw new IllegalStateException(
          s"btr: concurrent append conflict at $dir column $i — this writer " +
            s"validated against a schema with ${f.name}:${f.dataType.simpleString} " +
            s"but the committed meta now holds ${e.name}:${e.dataType.simpleString}. " +
            "Retry the append (concurrent appends adding different columns " +
            "are not mergeable).")
    }
    // overlapping columns record the WIDEST type seen (this writer's
    // widening sticks; a concurrent writer's further widening is kept)
    val prefix = schema.fields.zipWithIndex.map { case (f, i) =>
      if (i >= existing.fields.length) f.copy(nullable = true)
      else {
        val e = existing.fields(i)
        f.copy(dataType = graft.format.BtrWidening.widest(f.dataType, e.dataType),
          nullable = f.nullable || e.nullable)
      }
    }
    // the meta may have grown BEYOND this writer's schema since it was
    // validated (a concurrent widening append; streaming sinks validate
    // once at build): keep the existing trailing columns — rewriting the
    // meta with only this writer's columns would silently hide them
    StructType(prefix ++ existing.fields.drop(schema.fields.length))
  }

  /** The tombstoned-meta variant of the merge above: the writer's fields
    * map in order onto the LIVE slots; tombstones pass through holding
    * their positions; fields beyond the live count append as new trailing
    * slots (forced nullable, like any widening add). Same concurrent-
    * conflict posture: a live slot whose name/type no longer matches the
    * incoming field at that logical position fails loudly.
    */
  private def widenedSlots(dir: Path, existing: StructType, schema: StructType): StructType = {
    import graft.format.{BtrColumnMapping, BtrWidening}
    var li = 0
    val merged = existing.fields.map { e =>
      if (BtrColumnMapping.isDropped(e)) e
      else if (li >= schema.fields.length) e // meta grew beyond this writer: keep
      else {
        val f = schema.fields(li); li += 1
        if (f.name != e.name || !BtrWidening.compatible(f.dataType, e.dataType))
          throw new IllegalStateException(
            s"btr: concurrent append conflict at $dir live column ${li - 1} — this " +
              s"writer validated against ${f.name}:${f.dataType.simpleString} but the " +
              s"committed meta now holds ${e.name}:${e.dataType.simpleString}. Retry " +
              "the append (concurrent appends adding different columns are not " +
              "mergeable).")
        e.copy(name = f.name, dataType = BtrWidening.widest(f.dataType, e.dataType),
          nullable = f.nullable || e.nullable)
      }
    } ++ schema.fields.drop(li).map(_.copy(nullable = true))
    StructType(merged)
  }
}

final case class BtrCommitMessage(
    fileName: String,
    numRows: Long,
    colNulls: Array[Long] = Array.emptyLongArray,
    colRawBytes: Array[Long] = Array.emptyLongArray,
    colCompBytes: Array[Long] = Array.emptyLongArray
) extends WriterCommitMessage

/** What a batch write does to the files already in the table. */
sealed trait BtrOverwriteMode
object BtrOverwriteMode {
  case object Append extends BtrOverwriteMode
  case object Truncate extends BtrOverwriteMode
  /** Replace rows matching the conjunction (metadata-delete classified). */
  final case class ByFilter(filters: Array[org.apache.spark.sql.sources.Filter])
      extends BtrOverwriteMode
  /** Replace only the partition directories this write produced files in. */
  case object Dynamic extends BtrOverwriteMode
  /** Group-based row-level rewrite (DELETE/UPDATE/MERGE copy-on-write):
    * replace exactly the files the paired row-level scan read — evaluated
    * at commit time, after the scan planned. Task writers emit HIDDEN
    * (`_`-prefixed) staged names; the commit journals the swap, renames
    * them visible, then drops the replaced sources — crash-atomic at
    * every step (a torn commit rolls back to the pre-operation view).
    */
  final case class ReplaceFiles(sources: () => Seq[String],
      // deletion-vector rels the paired scan APPLIED while computing its
      // row images — the commit conflicts when the committed set for the
      // sources has changed since (a concurrent merge-on-read DELETE
      // would be silently dropped by the swap otherwise)
      appliedDv: () => Set[String] = () => Set.empty) extends BtrOverwriteMode
}

class BtrBatchWrite(path: String, schema: StructType, mode: BtrOverwriteMode, blockSize: Int,
    cascade: Int, cfg: BtrConfig = BtrConfig.Default, partCols: Seq[String] = Nil,
    retainOpt: Option[Boolean] = None, logRetentionOpt: Option[Int] = None,
    dvOpt: Option[Boolean] = None, txnOpt: Option[(String, Long)] = None,
    // test-only race injection: runs right before the log claim —
    // deterministic stand-in for a concurrent duplicate txn landing
    // inside the pre-check → claim window
    beforeLog: () => Unit = () => ())
    extends BatchWrite {

  private def truncate: Boolean = mode == BtrOverwriteMode.Truncate

  // row-level rewrites stage under hidden names (listings skip `_`); the
  // commit renames them visible under the swap journal
  private val writeId = BtrWriteIds.newWriteId()
  private val namePrefix =
    if (mode.isInstanceOf[BtrOverwriteMode.ReplaceFiles]) s"_rl_${writeId}_" else ""

  // the commit protocol needs atomic rename — refuse known
  // copy+delete-rename object stores before any bytes move (BtrFs)
  locally {
    val dir = new Path(path)
    graft.format.BtrFs.requireCommitCapable(
      dir.getFileSystem(BtrTableMeta.hadoopConf()), dir)
  }

  // set the moment this commit's swap journal is visible: from then on the
  // operation converges FORWARD (the journal governs the listing), so a
  // late abort() must not delete this write's files — removing finals
  // after their sources were dropped is how both copies get lost
  @volatile private var committedForward = false

  // data files store only the non-partition columns; partition values
  // live in the hive-style directory names
  private val dataSchema: StructType =
    if (partCols.isEmpty) schema
    else StructType(schema.fields.filterNot(f => partCols.contains(f.name)))

  /** Tombstone slot layout (column mapping): when the table meta carries
    * dropped-column tombstones, files must keep the FULL slot sequence
    * positional — live slots take the incoming columns, tombstoned slots
    * write an all-null column. None for truncate (the table restarts
    * with the incoming schema, tombstones gone) and for every unmapped
    * table (byte-identical behavior to before).
    */
  private lazy val slotLayout: Option[BtrSlotLayout] = {
    if (truncate) None
    else {
      val dir = new Path(path)
      val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
      BtrTableMeta.readIfExists(fs, dir).map(_.schema)
        .filter(graft.format.BtrColumnMapping.hasTombstones).map { metaSchema =>
          val metaData = metaSchema.fields.filterNot(f => partCols.contains(f.name))
          val (phys, ords) =
            graft.format.BtrColumnMapping.slotLayout(metaData, dataSchema.fields)
          BtrSlotLayout(phys, ords)
        }
    }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    if (partCols.isEmpty)
      new BtrWriterFactory(path, schema, blockSize, cascade, cfg, writeId, namePrefix,
        slots = slotLayout)
    else
      new BtrPartitionedWriterFactory(path, schema, partCols, blockSize, cascade, cfg, writeId,
        namePrefix, slots = slotLayout)

  private def flatten(messages: Array[WriterCommitMessage]): Array[BtrCommitMessage] =
    messages.flatMap {
      case m: BtrCommitMessage => Seq(m)
      case m: BtrMultiCommitMessage => m.messages.toSeq
      case _ => Nil
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    // retention policy of the PRE-commit table governs what this commit
    // removes (a commit that first enables retention retains from the
    // NEXT removal on)
    val retainRemoved = BtrTableMeta.readRetainRemoved(fs, dir)
    // converge a crashed merge-on-read UPDATE/MERGE first (forward or
    // back — see BtrDvOps.convergePending); every mode's own listing
    // below must see the converged state
    BtrDvOps.convergePending(fs, dir)
    val msgs = flatten(messages)
    // idempotent replay (btr.txnAppId/btr.txnVersion): a version the
    // retained log already records for this app — at-or-above this one —
    // has ALREADY committed; drop this attempt's files and succeed
    // silently, so a retried pipeline job never appends twice
    txnOpt.foreach { case (app, ver) =>
      require(mode == BtrOverwriteMode.Append,
        "btr: btr.txnAppId/btr.txnVersion are APPEND idempotence options " +
          "(replacing writes are naturally re-runnable)")
      if (BtrLog.lastTxnVersion(fs, dir, app).exists(_ >= ver)) {
        msgs.foreach(m =>
          if (m.fileName.nonEmpty) fs.delete(new Path(dir, m.fileName), false))
        BtrDelete.deleteEmptyPartitionDirs(fs, dir)
        return
      }
    }
    // fileName is table-root-relative (may include partition dirs)
    val committed = msgs.map(_.fileName).toSet
    val rootLen = dir.toUri.getPath.length + 1
    def relOf(f: Path): String =
      f.toUri.getPath.substring(math.min(rootLen, f.toUri.getPath.length))
    def isNew(f: Path): Boolean = committed.contains(relOf(f)) || committed.contains(f.getName)
    // crash-atomic replacement: BEFORE deleting anything, journal the swap
    // (finals = this write's files, already visible from task commits;
    // sources = the files being replaced) in ONE group so the whole
    // operation flips together. A crash mid-delete then converges forward
    // (the journal hides the remaining sources); a commit failure BEFORE
    // the journal leaves the sources authoritative. "nm-" ids write no
    // done-marker: a DML replacement is not row-preserving, so a tailing
    // stream must see the new files as new data, never as compaction
    // merges of rows it already emitted.
    def journalReplace(finals: Seq[String], sources: Seq[String]): Unit =
      if (sources.nonEmpty) {
        // publish-then-recheck: a concurrent maintenance journal over
        // shared sources means the observer yields (Spark's abort then
        // sweeps this commit's staged files; nothing was renamed)
        BtrTableMeta.publishSwapJournalChecked(fs, dir, s"nm-$writeId",
          Seq(BtrTableMeta.SwapGroup("", finals, sources)))
        committedForward = true
      }
    // this commit's add/remove file sets, for the O(commit) snapshot-log
    // delta entry: added = the files this write produced (visible names),
    // removed = whatever the mode below replaced
    var logAdded: Seq[String] = committed.toSeq.filter(_.nonEmpty)
    var logRemoved: Seq[String] = Nil
    // merge-on-read deletion vectors: a removed data file takes its
    // `_btr_dv/` blobs with it — journaled and retention-routed like the
    // file itself, and recorded in the log's removed set so snapshots
    // never reference orphaned masks. Zero cost without a `_btr_dv` dir.
    def blobsOf(removedRels: Seq[String]): Seq[String] =
      graft.format.DeletionVector.blobRelsForTargets(fs, dir, removedRels.toSet)
    mode match {
      case BtrOverwriteMode.Truncate =>
        // replace: drop every data file not produced by this write.
        // Converge pending compaction swaps FIRST — otherwise a crashed
        // swap's hidden sources survive the journal-filtered listing below
        // and resurrect once the journal flips to the pre-swap view after
        // its finals are deleted here.
        BtrTableMeta.completeSwapJournals(fs, dir)
        // the whole file set is being replaced — stale source→final
        // mappings must not outlive it
        BtrTableMeta.dropAllSwapState(fs, dir)
        val old = BtrTableMeta.listDataFilesWithPartitions(fs, dir).filterNot(e => isNew(e.path))
        // truncate replaces the whole file set: every blob goes
        logRemoved = old.map(e => relOf(e.path)).toSeq ++
          graft.format.DeletionVector.listBlobRels(fs, dir)
        journalReplace(committed.toSeq.filter(_.nonEmpty).sorted, logRemoved)
        logRemoved.foreach(rel => BtrRetention.removeDataFile(fs, dir, rel, retainRemoved))
      case BtrOverwriteMode.ByFilter(filters) =>
        // delete the PRE-EXISTING rows matching the condition; this
        // write's own files are insert data and never candidates (excluded
        // before classification, so they cost no footer reads either). The
        // build-time canDelete probe makes an Undecided verdict here rare
        // (a concurrent append since then) — it still aborts cleanly, and
        // Spark's abort removes the new files, leaving the table untouched.
        // Classification uses the META schema when it carries tombstones:
        // footer columns index by slot position, not logical position.
        BtrTableMeta.completeSwapJournals(fs, dir)
        val classifySchema =
          BtrTableMeta.readIfExists(fs, dir).map(_.schema).getOrElse(schema)
        val verdicts = BtrDelete.classify(fs, dir, classifySchema, partCols, filters,
          exclude = e => isNew(e.path))
        val undecided = verdicts.collect { case (e, BtrDelete.Undecided) => e.path.getName }
        if (undecided.nonEmpty)
          throw new IllegalStateException(
            s"btr: overwrite condition no longer aligns with file boundaries at $dir " +
              s"(e.g. ${undecided.take(3).mkString(", ")}) — a concurrent write " +
              "changed the table since this overwrite was planned; retry")
        val dels = verdicts.collect { case (e, BtrDelete.MatchAll) => e }
        logRemoved = dels.map(e => relOf(e.path)).toSeq
        logRemoved = logRemoved ++ blobsOf(logRemoved)
        journalReplace(committed.toSeq.filter(_.nonEmpty).sorted, logRemoved)
        logRemoved.foreach(rel => BtrRetention.removeDataFile(fs, dir, rel, retainRemoved))
      case BtrOverwriteMode.Dynamic =>
        // replace exactly the partition directories this write landed
        // files in: delete their pre-existing files, keep every other
        // partition untouched (no listing-wide delete, no read of data)
        BtrTableMeta.completeSwapJournals(fs, dir)
        val touched: Set[String] = committed.map { rel =>
          val cut = rel.lastIndexOf('/')
          if (cut < 0) "" else rel.substring(0, cut)
        }
        val dels = BtrTableMeta.listDataFilesWithPartitions(fs, dir).filter { e =>
          val rel = relOf(e.path)
          val cut = rel.lastIndexOf('/')
          val parent = if (cut < 0) "" else rel.substring(0, cut)
          touched.contains(parent) && !isNew(e.path)
        }
        logRemoved = dels.map(e => relOf(e.path)).toSeq
        logRemoved = logRemoved ++ blobsOf(logRemoved)
        journalReplace(committed.toSeq.filter(_.nonEmpty).sorted, logRemoved)
        logRemoved.foreach(rel => BtrRetention.removeDataFile(fs, dir, rel, retainRemoved))
      case BtrOverwriteMode.ReplaceFiles(sourcesThunk, appliedDvThunk) =>
        BtrTableMeta.completeSwapJournals(fs, dir)
        // leftover hidden staging from a CRASHED previous rewrite (its
        // journal never published, so nothing else deletes them)
        BtrRowLevelOps.sweepStaged(fs, dir, exceptId = writeId)
        val staged = committed.toSeq.filter(_.nonEmpty).sorted
        // visible name: drop the hidden staging prefix from the basename
        def visibleOf(rel: String): String = {
          val cut = rel.lastIndexOf('/')
          val dirPart = if (cut < 0) "" else rel.substring(0, cut + 1)
          dirPart + rel.substring(cut + 1).stripPrefix(namePrefix)
        }
        val sources = sourcesThunk().distinct
        // optimistic-concurrency check, BEFORE the journal publishes:
        // this rewrite's row images were computed from `sources` at scan
        // time — if a concurrent commit (another MERGE/UPDATE/DELETE,
        // an OPTIMIZE, an overwrite) replaced any of them since, swapping
        // in our staged files would resurrect superseded rows or drop the
        // concurrent commit's. Fail loudly; Spark's abort sweeps the
        // staged files and the table keeps the concurrent commit's state.
        locally {
          val visibleNow = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
            .map(e => relOf(e.path)).toSet
          val gone = sources.filterNot(visibleNow.contains)
          if (gone.nonEmpty)
            throw new IllegalStateException(
              s"btr: concurrent commit conflict at $dir — this row-level rewrite " +
                s"read ${gone.length} file(s) a concurrent commit has since " +
                s"removed or rewritten (e.g. ${gone.take(3).mkString(", ")}). " +
                "The rewrite's row images are stale; retry the operation.")
          // merge-on-read deletes committed AGAINST the sources since the
          // scan applied its masks would be silently dropped by this swap
          // (the staged row images predate them) — fail loudly instead
          if (BtrTableMeta.readDeletionVectors(fs, dir)) {
            import graft.format.DeletionVector
            val srcSet = sources.toSet
            def forSources(rels: Iterable[String]): Set[String] = rels.iterator
              .filter(DeletionVector.isDvRel)
              .filter(r => DeletionVector.targetOf(r).exists(srcSet.contains)).toSet
            val qdir = fs.makeQualified(dir)
            val nowDv = BtrLog.latestVersion(fs, qdir)
              .map(v => forSources(BtrLog.resolveSnapshot(fs, qdir, v).files))
              .getOrElse(Set.empty)
            if (nowDv != forSources(appliedDvThunk()))
              throw new IllegalStateException(
                s"btr: concurrent commit conflict at $dir — deletion vectors over " +
                  "this rewrite's source files changed after its scan (a concurrent " +
                  "merge-on-read DELETE); the staged row images are stale, retry.")
          }
        }
        val srcBlobs = blobsOf(sources)
        logAdded = staged.map(visibleOf)
        logRemoved = sources ++ srcBlobs
        // publish-then-recheck (see journalReplace): the observer of a
        // concurrent maintenance journal over shared sources yields
        val myJournal = BtrTableMeta.publishSwapJournalChecked(fs, dir, s"nm-$writeId",
          Seq(BtrTableMeta.SwapGroup("", staged.map(visibleOf), sources ++ srcBlobs)))
        // masks re-check AFTER the journal is visible: a DV commit whose
        // blobs landed between the pre-publish DV-set check and the
        // publish saw no journal at its own conflict checks — look again
        // (physical blob listing: conservative, an in-flight commit that
        // will roll back still makes this writer yield — both-yield is
        // safe, proceed-proceed is not)
        locally {
          val srcSet = sources.toSet
          val newBlobs = (blobsOf(sources) ++
            BtrTableMeta.pendingBlobFinals(fs, dir, myJournal.getName)
              .filter(r => graft.format.DeletionVector.targetOf(r).exists(srcSet.contains)))
            .filterNot(srcBlobs.toSet.contains)
          if (newBlobs.nonEmpty) {
            fs.delete(myJournal, false)
            throw new IllegalStateException(
              s"btr: concurrent commit conflict at $dir — a merge-on-read commit " +
                s"put deletion vectors on ${newBlobs.size} of this rewrite's source " +
                "file(s) (post-publish); the staged row images are stale, retry.")
          }
        }
        committedForward = true
        staged.foreach { rel =>
          val from = new Path(dir, rel)
          val to = new Path(dir, visibleOf(rel))
          if (!fs.rename(from, to))
            throw new java.io.IOException(s"btr rewrite: rename $rel -> ${visibleOf(rel)} failed")
        }
        // lease-skew guard (see BtrCompact.rewriteWith): a convergence
        // pass that judged this writer crashed rolled the journal back
        // mid-rename, deleting finals already in — deleting the sources
        // now would lose their rows. "nm-" journals leave no done-marker,
        // so discriminate by the sources: any still present means the
        // pass ROLLED BACK (forward convergence removes them all) —
        // withdraw and yield; all gone means it converged forward
        // (committed) — continue, the deletes below no-op.
        if (!fs.exists(myJournal) &&
          logRemoved.exists(r => fs.exists(new Path(dir, r)))) {
          committedForward = false
          staged.foreach(rel => fs.delete(new Path(dir, visibleOf(rel)), false))
          throw new IllegalStateException(
            s"btr: concurrent commit conflict at $dir — this rewrite's swap " +
              "journal was rolled back mid-rename (a convergence pass judged " +
              "the writer crashed past the maintenance lease); its outputs were " +
              "withdrawn and the sources remain authoritative. Retry.")
        }
        logRemoved.foreach(relPath => BtrRetention.removeDataFile(fs, dir, relPath, retainRemoved))
      case BtrOverwriteMode.Append =>
        // task-committed files are visible before this driver commit — a
        // concurrent file-aligned DELETE (or partition drop) may have
        // consumed SOME of them, leaving a half-applied append that no
        // serial order of the two commits could produce. Detect and fail:
        // Spark's abort then removes the surviving files, restoring the
        // clean "DELETE won" state, and the append retries serializably.
        // ONE journal-filtered listing (not O(files) existence RPCs):
        // reader VISIBILITY is the right check — a file a concurrent
        // commit's journal already hides has effectively lost the race
        // even if its bytes still exist.
        val rels = committed.toSeq.filter(_.nonEmpty)
        val visible = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
          .map(e => relOf(e.path)).toSet
        val gone = rels.filterNot(visible.contains)
        if (gone.nonEmpty)
          throw new IllegalStateException(
            s"btr: concurrent commit conflict at $dir — ${gone.length} file(s) this " +
              s"append just wrote were removed by a concurrent commit before the " +
              s"append committed (e.g. ${gone.take(3).mkString(", ")}); retry the append.")
    }
    // retire this commit's own journal (idempotent; deletes any source a
    // crash in the loops above would have left behind)
    if (committedForward) BtrTableMeta.completeSwapJournals(fs, dir)
    // every replacing mode can empty partition directories (truncate with
    // a different partition mix, by-filter, dynamic with an empty insert);
    // sweep them like DELETE does so the same operation expressed either
    // way leaves the same layout
    if (mode != BtrOverwriteMode.Append) BtrDelete.deleteEmptyPartitionDirs(fs, dir)
    BtrTableMeta.write(fs, dir,
      if (truncate) schema else BtrWriteSchemas.widened(fs, dir, schema),
      blockSize, cascade, partCols, retainRemoved = retainOpt,
      logRetention = logRetentionOpt, deletionVectors = dvOpt)
    // ingest stats at commit — the analog of the reference's `.stats`
    // files (btrfiles/Parser.cpp:184-189) + OutputBlockStats
    // (compression/Compressor.hpp:10-20): per-column nulls, raw vs
    // compressed bytes, ratio, aggregated over this write's files
    // with tombstone slots the files (and so the commit messages' per-
    // column arrays) carry the PHYSICAL layout
    val statsSchema = slotLayout.map(_.physData).getOrElse(dataSchema)
    val n = statsSchema.fields.length
    val nulls = new Array[Long](n)
    val raw = new Array[Long](n)
    val comp = new Array[Long](n)
    var rows = 0L
    msgs.filter(_.numRows > 0).foreach { m =>
      rows += m.numRows
      var c = 0
      while (c < n && c < m.colNulls.length) {
        nulls(c) += m.colNulls(c)
        raw(c) += m.colRawBytes(c)
        comp(c) += m.colCompBytes(c)
        c += 1
      }
    }
    // a row-level rewrite replaced a SUBSET of files: stats aggregated
    // over only its own output would claim table totals they aren't —
    // drop the advisory sidecar instead (scan sizing falls back to
    // btr.expansionFactor until the next full write)
    if (mode.isInstanceOf[BtrOverwriteMode.ReplaceFiles])
      fs.delete(new Path(dir, BtrTableMeta.StatsFile), false)
    else BtrTableMeta.writeStats(fs, dir, statsSchema.fieldNames, rows, nulls, raw, comp)
    // footer-index sidecar: planning on this table becomes one file read;
    // incremental (pre-existing append-mode files reuse the old index)
    BtrFooters.refreshIndex(fs, dir)
    // snapshot log entry for time travel — recorded last: the data commit
    // above is already durable, so a crash here costs one snapshot point.
    // Delta entry (this commit's own add/remove sets) — O(commit), never
    // O(table); the log's checkpoint cadence handles full listings
    beforeLog()
    val claimed = BtrLog.recordDelta(fs, dir, mode match {
      case BtrOverwriteMode.Append => "append"
      case BtrOverwriteMode.ReplaceFiles(_, _) => "rewrite"
      case _ => "overwrite"
    }, added = logAdded, removed = logRemoved, txn = txnOpt)
    // post-claim duplicate detection: a concurrent attempt of the SAME
    // (appId, version) that won the race between our pre-check and our
    // claim makes OUR commit the redundant one — roll it back with a
    // compensating entry (rows then exist exactly once, via the winner)
    txnOpt.foreach { case (app, ver) =>
      if (BtrLog.lastTxnVersion(fs, dir, app, belowVersion = claimed).exists(_ >= ver)) {
        BtrLog.recordDelta(fs, dir, "txn-abort", added = Nil, removed = logAdded)
        logAdded.foreach(rel => BtrRetention.removeDataFile(fs, dir, rel, retainRemoved))
        BtrDelete.deleteEmptyPartitionDirs(fs, dir)
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // once the swap journal published, the operation converges forward or
    // rolls back THROUGH the journal — deleting this write's files here
    // could drop finals whose sources the commit already removed (both
    // copies gone). Leave convergence to the next completeSwapJournals.
    if (committedForward) return
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    flatten(messages).foreach { m =>
      if (m.fileName.nonEmpty) fs.delete(new Path(dir, m.fileName), false)
    }
  }
}

final case class BtrMultiCommitMessage(messages: Array[BtrCommitMessage]) extends WriterCommitMessage

class BtrPartitionedWriterFactory(path: String, schema: StructType, partCols: Seq[String],
    blockSize: Int, cascade: Int, cfg: BtrConfig, writeId: String = BtrWriteIds.newWriteId(),
    namePrefix: String = "", slots: Option[BtrSlotLayout] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BtrPartitionedDataWriter(path, schema, partCols, blockSize, cascade, partitionId, taskId,
      cfg, writeId, namePrefix = namePrefix, slots = slots)
}

/** Partitioned streaming epochs: deterministic per-(epoch, partition)
  * file names inside each hive directory, so re-attempts replace their
  * own files (same idempotency contract as the unpartitioned sink).
  */
final case class BtrPartitionedStreamingWriterFactory(
    path: String, schema: StructType, partCols: Seq[String],
    blockSize: Int, cascade: Int, cfg: BtrConfig,
    slots: Option[BtrSlotLayout] = None)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new BtrPartitionedDataWriter(path, schema, partCols, blockSize, cascade, partitionId, taskId,
      cfg, fileNameOverride = Some(f"part-e$epochId%06d-$partitionId%05d.btr"), slots = slots)
}

/** Hive-style dynamic partitioning: rows fan out to per-partition-value
  * sub-writers under `<root>/<col>=<value>/...`. The number of OPEN
  * partitions per task is bounded: when a batch write exceeds the cap,
  * the least-recently-written sub-writer is finalized early (its file
  * commits; a reopened partition starts a fresh uniquely-named file) —
  * the same unbounded-partition robustness Spark's file writer gets from
  * its sort-based fallback, paid in extra files per partition instead of
  * a sort (compaction converges them). Streaming epochs keep the HARD
  * cap: their deterministic per-(epoch,partition) file names make
  * re-attempts idempotent, and an evicted-then-reopened partition would
  * need a second name — repartition by the partition columns upstream.
  */
class BtrPartitionedDataWriter(path: String, schema: StructType, partCols: Seq[String],
    blockSize: Int, cascade: Int, partitionId: Int, taskId: Long, cfg: BtrConfig,
    writeId: String = "", fileNameOverride: Option[String] = None, namePrefix: String = "",
    slots: Option[BtrSlotLayout] = None)
    extends DataWriter[InternalRow] {

  private val MaxOpenPartitions = 128
  private val NullPart = BtrTableMeta.NullPartition

  // spec-aware: identity fields live in directory names only (dropped
  // from the data schema); transform fields DERIVE their directory value
  // from a source column that STAYS in the files
  private val partFields = partCols.map(graft.format.PartitionTransform.parse).toArray
  private val partOrdinals = partFields.map(f => schema.fieldIndex(f.source))
  private val partTypes = partOrdinals.map(schema.fields(_).dataType)
  private val identityOrdinals = partFields.indices
    .collect { case i if partFields(i).isIdentity => partOrdinals(i) }
  private val dataOrdinals = schema.fields.indices.filterNot(identityOrdinals.contains).toArray
  private val logicalDataSchema = StructType(dataOrdinals.map(schema.fields(_)))
  // files carry the physical slot layout when the table is column-mapped
  private val dataSchema = slots.map(_.physData).getOrElse(logicalDataSchema)
  private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(logicalDataSchema, dataOrdinals.toIndexedSeq)
  private val slotRow: BtrSlotRow = slots.map(s => new BtrSlotRow(s.ords)).orNull

  // LinkedHashMap in ACCESS order would reorder on every write; explicit
  // last-write tick per key keeps eviction O(open) only on the rare spill
  private val writers = scala.collection.mutable.LinkedHashMap.empty[String, BtrDataWriter]
  private val lastWrite = scala.collection.mutable.HashMap.empty[String, Long]
  private var tick = 0L
  // files finalized early by eviction: FINISHED but still at their hidden
  // temp names — the rename to a visible name happens at TASK COMMIT,
  // preserving the invariant that a crashed or speculative attempt never
  // surfaces a file (a dead attempt's temps are `_`-hidden forever, the
  // same posture as any writer that died mid-file)
  private final case class PendingFile(dirKey: String, tmpName: String, msg: BtrCommitMessage)
  private val evicted = scala.collection.mutable.ArrayBuffer.empty[PendingFile]
  // per-key reopen count -> unique file names across evict/reopen cycles
  private val reopens = scala.collection.mutable.HashMap.empty[String, Int]
  private var reopenEvents = 0L
  private var warnedThrash = false

  private def partValueString(row: InternalRow, i: Int): String = {
    if (row.isNullAt(partOrdinals(i))) NullPart
    else if (!partFields(i).isIdentity) {
      val raw: Any = partTypes(i) match {
        case IntegerType | DateType => Int.box(row.getInt(partOrdinals(i)))
        case LongType | TimestampType | TimestampNTZType => Long.box(row.getLong(partOrdinals(i)))
        case StringType => row.getUTF8String(partOrdinals(i)).toString
        case other => throw new UnsupportedOperationException(
          s"btr: partition transform source type $other")
      }
      graft.format.PartitionTransform.dirValue(partFields(i), partTypes(i), raw)
    }
    else partTypes(i) match {
      case StringType => row.getUTF8String(partOrdinals(i)).toString
      case IntegerType => row.getInt(partOrdinals(i)).toString
      case LongType => row.getLong(partOrdinals(i)).toString
      case ShortType => row.getShort(partOrdinals(i)).toString
      case ByteType => row.getByte(partOrdinals(i)).toString
      case BooleanType => row.getBoolean(partOrdinals(i)).toString
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(partOrdinals(i)).toLong).toString
      // timestamps: UTC ISO-8601 instant (session-tz independent; the
      // shared hive escaping makes the colons directory-safe)
      case TimestampType => BtrPartTime.microsToInstantString(row.getLong(partOrdinals(i)))
      case TimestampNTZType => BtrPartTime.microsToLocalString(row.getLong(partOrdinals(i)))
      case other => throw new UnsupportedOperationException(s"btr: partition column type $other")
    }
  }

  override def write(row: InternalRow): Unit = {
    val key = partFields.indices.map { i =>
      s"${BtrTableMeta.escapePath(partFields(i).dirName)}=" +
        s"${BtrTableMeta.escapePath(partValueString(row, i))}"
    }.mkString("/")
    val w = writers.getOrElseUpdate(key, {
      if (writers.size >= MaxOpenPartitions) {
        if (fileNameOverride.isDefined)
          throw new IllegalArgumentException(
            s"btr: more than $MaxOpenPartitions concurrent partitions in one streaming " +
              "task; repartition by the partition columns before writing")
        evictColdest()
      }
      val seq = reopens.getOrElse(key, 0)
      reopens(key) = seq + 1
      // a reopen AFTER eviction is the real tiny-files signal: sorted
      // input (the default write layout's task-local sort) evicts each
      // partition exactly once and never comes back — that layout is one
      // file per partition and deserves no warning. Interleaved input
      // rotates evict->reopen, one tiny file per rotation.
      if (seq > 0) {
        reopenEvents += 1
        if (!warnedThrash && reopenEvents > MaxOpenPartitions) {
          warnedThrash = true
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"btr: task $taskId reopened $reopenEvents evicted partition writers " +
              s"(cap $MaxOpenPartitions open) — interleaved partition values are " +
              "producing many tiny files; repartition/sort by the partition columns " +
              "before writing (the default btr.write.distribution=auto does this), " +
              "or compact afterwards")
        }
      }
      // reopened partitions need distinct names: suffix the per-write id
      // with the reopen ordinal (first open keeps the plain name)
      val wid = if (seq == 0) writeId else s"$writeId-r$seq"
      new BtrDataWriter(s"$path/$key", dataSchema, blockSize, cascade, partitionId, taskId, cfg,
        fileNameOverride = fileNameOverride, writeId = wid, namePrefix = namePrefix)
    })
    tick += 1
    lastWrite(key) = tick
    proj.project(row)
    w.write(if (slotRow != null) slotRow.target(proj) else proj)
  }

  /** Finish the least-recently-written sub-writer's file (footer written,
    * stream closed) but leave it HIDDEN at its temp name; the slot frees
    * up and the rename happens at task commit. Sorted input evicts each
    * partition at most once (clean one-file layout); interleaved input
    * rotates evict->reopen, which write() detects and warns about
    * (correctness is unaffected; compaction converges the files).
    */
  private def evictColdest(): Unit = {
    val coldest = writers.keysIterator.minBy(k => lastWrite.getOrElse(k, 0L))
    // remove only AFTER a successful finish — if it throws, the writer is
    // still in the map and abort() cleans its temp like any other
    val w = writers(coldest)
    w.finishPending().foreach { case (tmpName, msg) =>
      evicted += PendingFile(coldest, tmpName, msg)
    }
    writers.remove(coldest)
    lastWrite.remove(coldest)
  }

  override def commit(): WriterCommitMessage = {
    // finish EVERY open writer to its hidden temp first, THEN rename all
    // pending files in one loop: a rename failure part-way must leave
    // every already-renamed file covered by abort()'s both-names delete,
    // or the retried task double-counts the orphans' rows
    val openKeys = writers.keys.toSeq
    openKeys.foreach { key =>
      writers(key).finishPending().foreach { case (tmpName, msg) =>
        evicted += PendingFile(key, tmpName, msg)
      }
      writers.remove(key)
    }
    val fs = new Path(path).getFileSystem(BtrTableMeta.hadoopConf())
    val msgs = evicted.map { p =>
      val from = new Path(s"$path/${p.dirKey}", p.tmpName)
      val to = new Path(s"$path/${p.dirKey}", p.msg.fileName)
      // streaming epoch re-attempts replace their own deterministic file
      // (same contract as BtrDataWriter.commit)
      if (fileNameOverride.isDefined && fs.exists(to)) fs.delete(to, false)
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"btr: rename ${p.tmpName} -> ${p.msg.fileName} " +
          s"failed in $path/${p.dirKey}")
      p.msg.copy(fileName = s"${p.dirKey}/${p.msg.fileName}")
    }.toArray
    BtrMultiCommitMessage(msgs)
  }

  override def abort(): Unit = {
    writers.values.foreach(_.abort())
    // pending files are hidden temps (or, if commit() got part way,
    // visible finals) — delete both names; the task failed as a whole
    val fs = new Path(path).getFileSystem(BtrTableMeta.hadoopConf())
    evicted.foreach { p =>
      fs.delete(new Path(s"$path/${p.dirKey}", p.tmpName), false)
      fs.delete(new Path(s"$path/${p.dirKey}", p.msg.fileName), false)
    }
  }

  override def close(): Unit = writers.values.foreach(_.close())
}

/** Physical slot layout for writes into a tombstoned (column-mapped)
  * table: the data schema files must carry, and per slot the ordinal of
  * its value in the incoming data row (-1 = tombstone, all-null).
  */
final case class BtrSlotLayout(physData: StructType, ords: Array[Int])

/** Read-only InternalRow view presenting the physical slot order over an
  * incoming data row: tombstone slots read as null, live slots delegate.
  * One instance per writer, re-targeted per row (same statefulness
  * contract as ProjectingInternalRow).
  */
final class BtrSlotRow(ords: Array[Int]) extends InternalRow {
  private var row: InternalRow = _
  def target(r: InternalRow): InternalRow = { row = r; this }
  override def numFields: Int = ords.length
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException("read-only")
  override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException("read-only")
  override def copy(): InternalRow = throw new UnsupportedOperationException("transient view")
  override def isNullAt(i: Int): Boolean = ords(i) < 0 || row.isNullAt(ords(i))
  override def getBoolean(i: Int): Boolean = row.getBoolean(ords(i))
  override def getByte(i: Int): Byte = row.getByte(ords(i))
  override def getShort(i: Int): Short = row.getShort(ords(i))
  override def getInt(i: Int): Int = row.getInt(ords(i))
  override def getLong(i: Int): Long = row.getLong(ords(i))
  override def getFloat(i: Int): Float = row.getFloat(ords(i))
  override def getDouble(i: Int): Double = row.getDouble(ords(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    row.getDecimal(ords(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    row.getUTF8String(ords(i))
  override def getBinary(i: Int): Array[Byte] = row.getBinary(ords(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(ords(i))
  override def getStruct(i: Int, numFields: Int): InternalRow = row.getStruct(ords(i), numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(ords(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData = row.getMap(ords(i))
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(ords(i))
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(ords(i))
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(ords(i))
  override def get(i: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef =
    if (isNullAt(i)) null else row.get(ords(i), dataType)
}

/** Wraps a writer so every incoming row is slot-projected first. */
final class BtrSlotWriter(inner: DataWriter[InternalRow], ords: Array[Int])
    extends DataWriter[InternalRow] {
  private val slotRow = new BtrSlotRow(ords)
  override def write(row: InternalRow): Unit = inner.write(slotRow.target(row))
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

final case class BtrStreamingWriterFactory(
    path: String, schema: StructType, blockSize: Int, cascade: Int, cfg: BtrConfig,
    slots: Option[BtrSlotLayout] = None)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    val w = new BtrDataWriter(path, slots.map(_.physData).getOrElse(schema), blockSize, cascade,
      partitionId, taskId, cfg,
      fileNameOverride = Some(f"part-e$epochId%06d-$partitionId%05d.btr"))
    slots.map(s => new BtrSlotWriter(w, s.ords): DataWriter[InternalRow]).getOrElse(w)
  }
}

class BtrWriterFactory(path: String, schema: StructType, blockSize: Int, cascade: Int,
    cfg: BtrConfig = BtrConfig.Default, writeId: String = BtrWriteIds.newWriteId(),
    namePrefix: String = "", slots: Option[BtrSlotLayout] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val w = new BtrDataWriter(path, slots.map(_.physData).getOrElse(schema), blockSize, cascade,
      partitionId, taskId, cfg, writeId = writeId, namePrefix = namePrefix)
    slots.map(s => new BtrSlotWriter(w, s.ords): DataWriter[InternalRow]).getOrElse(w)
  }
}

/** Per-write unique suffix for final file names (driver-side, once per
  * write) — like Spark's FileFormatWriter job UUID: final names can never
  * collide across writes, so overwrite after a fresh JVM (taskIds restart
  * at 0) never hits Hadoop rename's refuse-to-clobber semantics.
  */
object BtrWriteIds {
  def newWriteId(): String = java.util.UUID.randomUUID().toString.substring(0, 8)
}

object BtrDataWriter {
  /** A string's UTF-8 bytes in an array the writer owns until the row
    * group is flushed. `getBytes` already copies unless the string spans
    * its whole backing array, which a caller may reuse for the next row;
    * only that array is cloned.
    */
  def ownedBytes(s: org.apache.spark.unsafe.types.UTF8String): Array[Byte] = {
    val b = s.getBytes
    if (b eq s.getBaseObject) b.clone() else b
  }

  /** A binary value in an array the writer owns until the row group is
    * flushed. Unsafe rows and arrays copy it out of their memory already;
    * other sources (a `GenericInternalRow`, say) hand out the array they
    * hold, which a caller may refill for the next row, so only those are
    * cloned.
    */
  def ownedBinary(g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ordinal: Int): Array[Byte] = g match {
    case _: org.apache.spark.sql.catalyst.expressions.UnsafeRow |
        _: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData => g.getBinary(ordinal)
    case _ => g.getBinary(ordinal).clone()
  }

  // how `write` stores a top-level column's value, resolved per column
  // once; nested columns keep their per-value type match
  private final val KNested = 0
  private final val KInt = 1
  private final val KShort = 2
  private final val KByte = 3
  private final val KLong = 4
  private final val KBool = 5
  private final val KDouble = 6
  private final val KFloat = 7
  private final val KDecimal = 8
  private final val KString = 9
  private final val KBinary = 10

  private def kindOf(dt: DataType): Int = dt match {
    case IntegerType | DateType => KInt
    case ShortType => KShort
    case ByteType => KByte
    case LongType | TimestampType | TimestampNTZType => KLong
    case BooleanType => KBool
    case DoubleType => KDouble
    case FloatType => KFloat
    case _: DecimalType => KDecimal
    case StringType => KString
    case BinaryType => KBinary
    case _ => KNested
  }
}

class BtrDataWriter(path: String, schema: StructType, blockSize: Int, cascade: Int, partitionId: Int, taskId: Long,
    cfg: BtrConfig = BtrConfig.Default, fileNameOverride: Option[String] = None,
    writeId: String = "", namePrefix: String = "")
    extends DataWriter[InternalRow] {

  // batch final names embed the per-write id so two writes of the same
  // table (e.g. overwrite from a fresh JVM where taskIds restart at 0)
  // can never collide; streaming epoch names stay deterministic and the
  // commit handles the re-attempt collision explicitly. `namePrefix`
  // ("_rl_<id>_" for row-level rewrites) keeps the committed name HIDDEN
  // from listings until the job commit renames it under its swap journal.
  private val fileName = namePrefix + fileNameOverride.getOrElse {
    if (writeId.isEmpty) f"part-$partitionId%05d-$taskId.btr"
    else f"part-$partitionId%05d-$taskId-$writeId.btr"
  }
  // temp name always embeds the taskId: a deterministic FINAL name (the
  // streaming sink's epoch files) must not make two concurrent attempts
  // of the same task share a temp file
  private val tmpName = s"_tmp_${taskId}_$fileName"
  private val dir = new Path(path)
  private val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
  fs.mkdirs(dir)
  private val out = fs.create(new Path(dir, tmpName), true)
  out.write(BtrFile.Magic)
  out.writeInt(BtrFile.Version)
  private var bytesWritten: Long = 8L

  private val fields = schema.fields
  private val tags = fields.map(f => PhysType.of(f.dataType))
  private val numCols = fields.length
  private val kinds = fields.map(f => BtrDataWriter.kindOf(f.dataType))
  private val decimals = fields.map(_.dataType match {
    case d: DecimalType => d
    case _ => null
  })

  // dense row-group buffers (placeholder values at nulls, like the
  // reference's NULL_CODE convention, common/Units.hpp:134)
  private val longCols = new Array[Array[Long]](numCols)
  private val doubleCols = new Array[Array[Double]](numCols)
  private val stringCols = new Array[Array[Array[Byte]]](numCols)
  private val nullCols = new Array[Array[Boolean]](numCols)
  // array columns: per-row element counts + growable flattened elements
  private val arrLenCols = new Array[Array[Int]](numCols)
  private val arrHold = new Array[ColumnChunk](numCols)
  // struct columns: one scalar buffer chunk per leaf
  private val structHold = new Array[Array[ColumnChunk]](numCols)
  // map columns: key/value element-stream holds
  private val mapKeyHold = new Array[ColumnChunk](numCols)
  private val mapValHold = new Array[ColumnChunk](numCols)
  allocBuffers()
  private var rowsInGroup = 0
  private var totalRows = 0L
  private val rowGroups = scala.collection.mutable.ArrayBuffer.empty[BtrFile.RowGroupMeta]
  private val encodeBuf = new BufWriter(1 << 20)
  // per-column ingest stats accumulated across row groups (commit metrics)
  private val colNulls = new Array[Long](numCols)
  private val colRawBytes = new Array[Long](numCols)
  private val colCompBytes = new Array[Long](numCols)
  // per-column file-level NDV sketches (footer v6); array-family columns
  // carry none (element streams have no per-row distinctness)
  private val ndvP = cfg.ndvPrecision
  private val colNdv: Array[Array[Byte]] =
    if (ndvP == 0) null
    else Array.tabulate(numCols)(c =>
      if (PhysType.isArrayFamily(tags(c)) || tags(c) == PhysType.Struct ||
        tags(c) == PhysType.KvMap) null
      else Hll.create(ndvP))

  /** Allocate a struct-leaf hold for any supported leaf type: scalar
    * buffers, array-of-scalar (growable element stream + per-row
    * lengths), or a nested struct (recursive sub-holds).
    */
  private def allocLeafHold(dt: DataType): ColumnChunk = {
    val lt = PhysType.of(dt)
    val lc = new ColumnChunk(lt, blockSize)
    lc.isNull = new Array[Boolean](blockSize)
    if (PhysType.isArrayFamily(lt)) lc.arrLens = new Array[Int](blockSize)
    else if (lt == PhysType.Struct) {
      val st = dt.asInstanceOf[org.apache.spark.sql.types.StructType]
      lc.structLeaves = st.fields.map(f => allocLeafHold(f.dataType))
    } else if (lt == PhysType.KvMap) {
      // map leaf: per-row entry counts + key/value entry streams in
      // sub-holds — the same layout as a top-level map column
      val mt = dt.asInstanceOf[org.apache.spark.sql.types.MapType]
      lc.arrLens = new Array[Int](blockSize)
      lc.mapKeys = new ColumnChunk(PhysType.holdTagOf(PhysType.of(mt.keyType)), blockSize)
      lc.mapVals = allocMapValHold(mt.valueType)
      lc.mapKeyTag = PhysType.of(mt.keyType)
      lc.mapValTag = PhysType.of(mt.valueType)
    } else if (PhysType.isIntFamily(lt) || lt == PhysType.Float)
      lc.longs = new Array[Long](blockSize)
    else if (lt == PhysType.Double) lc.doubles = new Array[Double](blockSize)
    else lc.strings = new Array[Array[Byte]](blockSize)
    lc
  }

  /** Element-granularity hold for an array<struct> element field (or a
    * map's struct value field): scalar fields buffer in array-family
    * holds, struct fields recurse, array-of-scalar fields get a length
    * stream plus a flattened sub-element stream.
    */
  private def allocElemHold(dt: DataType): ColumnChunk = {
    val t = PhysType.of(dt)
    if (t == PhysType.Struct) {
      val st = dt.asInstanceOf[org.apache.spark.sql.types.StructType]
      val h = new ColumnChunk(PhysType.ArrStruct, blockSize)
      h.structLeaves = st.fields.map(f => allocElemHold(f.dataType))
      h.leafTrueTags = st.fields.map(f => PhysType.of(f.dataType))
      h
    } else if (PhysType.isArrayFamily(t))
      new ColumnChunk(PhysType.holdTagOf(PhysType.elemTag(t)), blockSize)
    else new ColumnChunk(PhysType.holdTagOf(t), blockSize)
  }

  /** Hold for a map column's VALUE stream by value type. */
  private def allocMapValHold(vt: DataType): ColumnChunk = {
    val t = PhysType.of(vt)
    if (t == PhysType.Struct) allocElemHold(vt)
    else if (PhysType.isArrayFamily(t))
      new ColumnChunk(PhysType.holdTagOf(PhysType.elemTag(t)), blockSize)
    else new ColumnChunk(PhysType.holdTagOf(t), blockSize)
  }

  private def allocBuffers(): Unit = {
    var c = 0
    while (c < numCols) {
      val tag = tags(c)
      if (PhysType.isIntFamily(tag) || tag == PhysType.Float) longCols(c) = new Array[Long](blockSize)
      else if (tag == PhysType.Double) doubleCols(c) = new Array[Double](blockSize)
      else if (tag == PhysType.ArrStruct) {
        // array<struct>: per-row lengths + element nullmap on the hold,
        // element VALUES in per-leaf element-mode holds (recursive:
        // nested struct / array-of-scalar element fields get sub-holds)
        val st = fields(c).dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        arrLenCols(c) = new Array[Int](blockSize)
        arrHold(c) = allocElemHold(st)
      } else if (tag == PhysType.ArrArr) {
        // array<array<...>>: outer lengths per row; each nesting level's
        // stream (per-element lengths + the next level) rides the same
        // hold shape as a map's array-valued side, recursively down to
        // the flat-scalar level
        arrLenCols(c) = new Array[Int](blockSize)
        arrHold(c) = allocArrArrHold(fields(c).dataType.asInstanceOf[ArrayType])
      } else if (PhysType.isArrayFamily(tag)) {
        arrLenCols(c) = new Array[Int](blockSize)
        arrHold(c) = new ColumnChunk(tag, blockSize)
      } else if (tag == PhysType.KvMap) {
        val mt = fields(c).dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
        arrLenCols(c) = new Array[Int](blockSize)
        mapKeyHold(c) = new ColumnChunk(PhysType.holdTagOf(PhysType.of(mt.keyType)), blockSize)
        // array-valued maps hold per-ENTRY lengths (growable) plus the
        // flattened sub-element stream; struct-valued maps hold per-leaf
        // element streams (the per-field provenance shape)
        mapValHold(c) = allocMapValHold(mt.valueType)
      } else if (tag == PhysType.Struct) {
        val st = fields(c).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        structHold(c) = st.fields.map(f => allocLeafHold(f.dataType))
      } else stringCols(c) = new Array[Array[Byte]](blockSize)
      nullCols(c) = new Array[Boolean](blockSize)
      c += 1
    }
  }

  /** Append `n` elements of an ArrayData into an element hold (the map
    * key/value streams; same placeholder-at-null convention as arrays).
    */
  private def appendElems(hold: ColumnChunk,
      arr: org.apache.spark.sql.catalyst.util.ArrayData, et: DataType, n: Int): Unit = {
    hold.ensureElemCapacity(n)
    var j = 0
    while (j < n) {
      val e = hold.elemCount
      if (arr.isNullAt(j)) {
        hold.elemNull(e) = true
        if (hold.elemLongs != null) hold.elemLongs(e) = 0L
        else if (hold.elemDoubles != null) hold.elemDoubles(e) = 0.0
        else hold.elemStrings(e) = Array.emptyByteArray
      } else {
        hold.elemNull(e) = false
        et match {
          case IntegerType | DateType => hold.elemLongs(e) = arr.getInt(j).toLong
          case ShortType => hold.elemLongs(e) = arr.getShort(j).toLong
          case ByteType => hold.elemLongs(e) = arr.getByte(j).toLong
          case LongType | TimestampType | TimestampNTZType => hold.elemLongs(e) = arr.getLong(j)
          case BooleanType => hold.elemLongs(e) = if (arr.getBoolean(j)) 1L else 0L
          case DoubleType => hold.elemDoubles(e) = arr.getDouble(j)
          case FloatType =>
            hold.elemLongs(e) = java.lang.Float.floatToRawIntBits(arr.getFloat(j)).toLong
          case d: DecimalType => hold.elemLongs(e) = arr.getDecimal(j, d.precision, d.scale).toUnscaledLong
          case StringType => hold.elemStrings(e) = BtrDataWriter.ownedBytes(arr.getUTF8String(j))
          case BinaryType => hold.elemStrings(e) = BtrDataWriter.ownedBinary(arr, j)
          case other => throw new UnsupportedOperationException(s"btr map elem: $other")
        }
      }
      hold.elemCount += 1
      j += 1
    }
  }

  /** Append ONE struct element of an array<struct> column (or a map's
    * struct value): each leaf value goes into its leaf hold's element
    * stream (`sr == null` — a null element — placeholder-fills every
    * leaf). Recursive: nested struct fields fan into their sub-holds,
    * array-of-scalar fields append a per-entry length plus flattened
    * sub-elements.
    */
  private def appendStructElem(hold: ColumnChunk,
      st: org.apache.spark.sql.types.StructType,
      sr: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    var j = 0
    while (j < hold.structLeaves.length) {
      val lh = hold.structLeaves(j)
      st.fields(j).dataType match {
        case st2: org.apache.spark.sql.types.StructType =>
          lh.ensureElemCapacity(1)
          val e = lh.elemCount
          val sub =
            if (sr == null || sr.isNullAt(j)) null
            else sr.getStruct(j, st2.fields.length)
          lh.elemNull(e) = sub == null
          appendStructElem(lh, st2, sub)
          lh.elemCount += 1
        case at: ArrayType =>
          lh.ensureLensCapacity(1)
          val e = lh.lensCount
          if (sr == null || sr.isNullAt(j)) {
            lh.lensNull(e) = true
            lh.arrLens(e) = 0
          } else {
            lh.lensNull(e) = false
            val sub = sr.getArray(j)
            val sn = sub.numElements()
            lh.arrLens(e) = sn
            appendElems(lh, sub, at.elementType, sn)
          }
          lh.lensCount += 1
        case ft =>
          lh.ensureElemCapacity(1)
          val e = lh.elemCount
          if (sr == null || sr.isNullAt(j)) {
            lh.elemNull(e) = true
            if (lh.elemLongs != null) lh.elemLongs(e) = 0L
            else if (lh.elemDoubles != null) lh.elemDoubles(e) = 0.0
            else lh.elemStrings(e) = Array.emptyByteArray
          } else {
            lh.elemNull(e) = false
            ft match {
              case IntegerType | DateType => lh.elemLongs(e) = sr.getInt(j).toLong
              case ShortType => lh.elemLongs(e) = sr.getShort(j).toLong
              case ByteType => lh.elemLongs(e) = sr.getByte(j).toLong
              case LongType | TimestampType | TimestampNTZType => lh.elemLongs(e) = sr.getLong(j)
              case BooleanType => lh.elemLongs(e) = if (sr.getBoolean(j)) 1L else 0L
              case DoubleType => lh.elemDoubles(e) = sr.getDouble(j)
              case FloatType =>
                lh.elemLongs(e) = java.lang.Float.floatToRawIntBits(sr.getFloat(j)).toLong
              case d: DecimalType =>
                lh.elemLongs(e) = sr.getDecimal(j, d.precision, d.scale).toUnscaledLong
              case StringType => lh.elemStrings(e) = BtrDataWriter.ownedBytes(sr.getUTF8String(j))
              case BinaryType => lh.elemStrings(e) = BtrDataWriter.ownedBinary(sr, j)
              case other =>
                throw new UnsupportedOperationException(s"btr array<struct> leaf: $other")
            }
          }
          lh.elemCount += 1
      }
      j += 1
    }
  }

  /** Append a map's values by value type: scalar entries into the elem
    * stream, array values via [[appendEntryArrays]], struct values one
    * element per entry into the per-leaf elem holds.
    */
  private def appendMapValues(hold: ColumnChunk,
      vals: org.apache.spark.sql.catalyst.util.ArrayData, vt: DataType, n: Int): Unit =
    vt match {
      case at: ArrayType => appendEntryArrays(hold, vals, at, n)
      case st: org.apache.spark.sql.types.StructType =>
        hold.ensureElemCapacity(n)
        var j = 0
        while (j < n) {
          val e = hold.elemCount
          val sr = if (vals.isNullAt(j)) null else vals.getStruct(j, st.fields.length)
          hold.elemNull(e) = sr == null
          appendStructElem(hold, st, sr)
          hold.elemCount += 1
          j += 1
        }
      case _ => appendElems(hold, vals, vt, n)
    }

  /** Append a map's ARRAY values: one per-entry length (+null flag) into
    * the hold's growable length stream, sub-elements flattened into its
    * element stream.
    */
  /** Allocate the hold chain for a (possibly deeply) nested array
    * column: every `array<array<...>>` level is an ArrArr hold whose
    * mapVals is the NEXT level's hold, bottoming out at a flat scalar
    * element hold — the wire layout recursion mirrored in buffers.
    */
  private def allocArrArrHold(at: ArrayType): ColumnChunk = {
    val tag = PhysType.of(at)
    val hold = new ColumnChunk(tag, blockSize)
    if (tag == PhysType.ArrArr) {
      val inner = at.elementType.asInstanceOf[ArrayType]
      hold.mapValTag = PhysType.of(inner)
      hold.mapVals =
        if (hold.mapValTag == PhysType.ArrArr) allocArrArrHold(inner)
        else new ColumnChunk(
          PhysType.holdTagOf(PhysType.elemTag(hold.mapValTag)), blockSize)
    }
    hold
  }

  private def appendEntryArrays(hold: ColumnChunk,
      vals: org.apache.spark.sql.catalyst.util.ArrayData, at: ArrayType, n: Int): Unit = {
    hold.ensureLensCapacity(n)
    var j = 0
    while (j < n) {
      val e = hold.lensCount
      if (vals.isNullAt(j)) {
        hold.lensNull(e) = true
        hold.arrLens(e) = 0
      } else {
        hold.lensNull(e) = false
        val sub = vals.getArray(j)
        val sn = sub.numElements()
        hold.arrLens(e) = sn
        at.elementType match {
          // deeper nesting recurses into the next level's hold; this
          // level records only the element COUNT per entry
          case iat: ArrayType => appendEntryArrays(hold.mapVals, sub, iat, sn)
          case et => appendArrayElems(hold, sub, et, sn)
        }
      }
      hold.lensCount += 1
      j += 1
    }
  }

  /** Fill one struct leaf's buffer slot from the nested row (null when
    * the struct itself is null at this position). Recursive: nested
    * struct leaves fan into their sub-holds, array leaves append their
    * elements into the leaf's own element stream (a null parent
    * null-fills the whole subtree at this row).
    */
  private def setLeaf(lc: ColumnChunk, dt: DataType, i: Int,
      sr: org.apache.spark.sql.catalyst.InternalRow, j: Int): Unit = {
    if (sr == null || sr.isNullAt(j)) {
      lc.isNull(i) = true
      if (lc.structLeaves != null) {
        val st = dt.asInstanceOf[org.apache.spark.sql.types.StructType]
        var k = 0
        while (k < lc.structLeaves.length) {
          setLeaf(lc.structLeaves(k), st.fields(k).dataType, i, null, k); k += 1
        }
      } else if (lc.arrLens != null) lc.arrLens(i) = 0
      else if (lc.longs != null) lc.longs(i) = 0L
      else if (lc.doubles != null) lc.doubles(i) = 0.0
      else lc.strings(i) = Array.emptyByteArray
      return
    }
    lc.isNull(i) = false
    dt match {
      case IntegerType | DateType => lc.longs(i) = sr.getInt(j).toLong
      case ShortType => lc.longs(i) = sr.getShort(j).toLong
      case ByteType => lc.longs(i) = sr.getByte(j).toLong
      case LongType | TimestampType | TimestampNTZType => lc.longs(i) = sr.getLong(j)
      case BooleanType => lc.longs(i) = if (sr.getBoolean(j)) 1L else 0L
      case DoubleType => lc.doubles(i) = sr.getDouble(j)
      case FloatType => lc.longs(i) = java.lang.Float.floatToRawIntBits(sr.getFloat(j)).toLong
      case d: DecimalType => lc.longs(i) = sr.getDecimal(j, d.precision, d.scale).toUnscaledLong
      case StringType => lc.strings(i) = BtrDataWriter.ownedBytes(sr.getUTF8String(j))
      case BinaryType => lc.strings(i) = BtrDataWriter.ownedBinary(sr, j)
      case st: org.apache.spark.sql.types.StructType =>
        val sub = sr.getStruct(j, st.fields.length)
        var k = 0
        while (k < lc.structLeaves.length) {
          setLeaf(lc.structLeaves(k), st.fields(k).dataType, i, sub, k); k += 1
        }
      case at: ArrayType =>
        val arr = sr.getArray(j)
        val n = arr.numElements()
        lc.arrLens(i) = n
        appendArrayElems(lc, arr, at.elementType, n)
      case mt: org.apache.spark.sql.types.MapType =>
        // map leaf inside a struct: same per-row entry count + key/value
        // entry streams as a top-level map column
        val m = sr.getMap(j)
        val n = m.numElements()
        lc.arrLens(i) = n
        appendElems(lc.mapKeys, m.keyArray(), mt.keyType, n)
        appendMapValues(lc.mapVals, m.valueArray(), mt.valueType, n)
      case other => throw new UnsupportedOperationException(s"btr struct leaf: $other")
    }
  }

  /** Append an ArrayData's elements into a chunk's own element stream
    * (array leaves of structs; same placeholder-at-null convention).
    */
  private def appendArrayElems(hold: ColumnChunk,
      arr: org.apache.spark.sql.catalyst.util.ArrayData, et: DataType, n: Int): Unit = {
    hold.ensureElemCapacity(n)
    var j = 0
    while (j < n) {
      val e = hold.elemCount
      if (arr.isNullAt(j)) {
        hold.elemNull(e) = true
        if (hold.elemLongs != null) hold.elemLongs(e) = 0L
        else if (hold.elemDoubles != null) hold.elemDoubles(e) = 0.0
        else hold.elemStrings(e) = Array.emptyByteArray
      } else {
        hold.elemNull(e) = false
        et match {
          case FloatType =>
            hold.elemLongs(e) = java.lang.Float.floatToRawIntBits(arr.getFloat(j)).toLong
          case DoubleType => hold.elemDoubles(e) = arr.getDouble(j)
          case IntegerType => hold.elemLongs(e) = arr.getInt(j).toLong
          case LongType => hold.elemLongs(e) = arr.getLong(j)
          case StringType => hold.elemStrings(e) = BtrDataWriter.ownedBytes(arr.getUTF8String(j))
          case other => throw new UnsupportedOperationException(s"btr array elem: $other")
        }
      }
      hold.elemCount += 1
      j += 1
    }
  }

  override def write(row: InternalRow): Unit = {
    import BtrDataWriter._
    val i = rowsInGroup
    var c = 0
    while (c < numCols) {
      if (row.isNullAt(c)) {
        nullCols(c)(i) = true
        if (longCols(c) != null) longCols(c)(i) = 0L
        else if (doubleCols(c) != null) doubleCols(c)(i) = 0.0
        else if (arrLenCols(c) != null) arrLenCols(c)(i) = 0
        else if (structHold(c) != null) {
          // null struct: placeholder-null every leaf at this position
          val st = fields(c).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
          var j = 0
          while (j < structHold(c).length) {
            setLeaf(structHold(c)(j), st.fields(j).dataType, i, null, j); j += 1
          }
        } else stringCols(c)(i) = Array.emptyByteArray
      } else {
        nullCols(c)(i) = false
        (kinds(c): @scala.annotation.switch) match {
          case KInt => longCols(c)(i) = row.getInt(c).toLong
          case KShort => longCols(c)(i) = row.getShort(c).toLong
          case KByte => longCols(c)(i) = row.getByte(c).toLong
          case KLong => longCols(c)(i) = row.getLong(c)
          case KBool => longCols(c)(i) = if (row.getBoolean(c)) 1L else 0L
          case KDouble => doubleCols(c)(i) = row.getDouble(c)
          case KFloat => longCols(c)(i) = java.lang.Float.floatToRawIntBits(row.getFloat(c)).toLong
          case KDecimal =>
            val dt = decimals(c)
            longCols(c)(i) = row.getDecimal(c, dt.precision, dt.scale).toUnscaledLong
          case KString => stringCols(c)(i) = BtrDataWriter.ownedBytes(row.getUTF8String(c))
          case KBinary => stringCols(c)(i) = BtrDataWriter.ownedBinary(row, c)
          case _ => writeNested(row, c, i)
        }
      }
      c += 1
    }
    rowsInGroup += 1
    totalRows += 1
    if (rowsInGroup == blockSize) flushGroup()
  }

  /** Store a struct, map or array value of top-level column `c` at row `i`. */
  private def writeNested(row: InternalRow, c: Int, i: Int): Unit =
    fields(c).dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        val sr = row.getStruct(c, st.fields.length)
        var j = 0
        while (j < structHold(c).length) {
          setLeaf(structHold(c)(j), st.fields(j).dataType, i, sr, j); j += 1
        }
      case mt: org.apache.spark.sql.types.MapType =>
        val m = row.getMap(c)
        val n = m.numElements()
        arrLenCols(c)(i) = n
        appendElems(mapKeyHold(c), m.keyArray(), mt.keyType, n)
        appendMapValues(mapValHold(c), m.valueArray(), mt.valueType, n)
      case at: ArrayType if at.elementType.isInstanceOf[ArrayType] =>
        val arr = row.getArray(c)
        val n = arr.numElements()
        arrLenCols(c)(i) = n
        appendEntryArrays(arrHold(c).mapVals, arr,
          at.elementType.asInstanceOf[ArrayType], n)
      case at: ArrayType if at.elementType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        val st = at.elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        val arr = row.getArray(c)
        val n = arr.numElements()
        val hold = arrHold(c)
        arrLenCols(c)(i) = n
        hold.ensureElemCapacity(n)
        var j = 0
        while (j < n) {
          val e = hold.elemCount
          val sr = if (arr.isNullAt(j)) null else arr.getStruct(j, st.fields.length)
          hold.elemNull(e) = sr == null
          appendStructElem(hold, st, sr)
          hold.elemCount += 1
          j += 1
        }
      case at: ArrayType =>
        val arr = row.getArray(c)
        val n = arr.numElements()
        val hold = arrHold(c)
        arrLenCols(c)(i) = n
        hold.ensureElemCapacity(n)
        var j = 0
        while (j < n) {
          val e = hold.elemCount
          if (arr.isNullAt(j)) {
            hold.elemNull(e) = true
            if (hold.elemLongs != null) hold.elemLongs(e) = 0L
            else if (hold.elemDoubles != null) hold.elemDoubles(e) = 0.0
            else hold.elemStrings(e) = Array.emptyByteArray
          } else {
            hold.elemNull(e) = false
            at.elementType match {
              case FloatType =>
                hold.elemLongs(e) = java.lang.Float.floatToRawIntBits(arr.getFloat(j)).toLong
              case DoubleType => hold.elemDoubles(e) = arr.getDouble(j)
              case IntegerType => hold.elemLongs(e) = arr.getInt(j).toLong
              case LongType => hold.elemLongs(e) = arr.getLong(j)
              case StringType => hold.elemStrings(e) = BtrDataWriter.ownedBytes(arr.getUTF8String(j))
              case other => throw new UnsupportedOperationException(s"btr array elem: $other")
            }
          }
          hold.elemCount += 1
          j += 1
        }
      case other => throw new UnsupportedOperationException(s"btr write: $other")
    }

  private def flushGroup(): Unit = {
    if (rowsInGroup == 0) return
    val n = rowsInGroup
    val colMetas = new Array[BtrFile.ColumnChunkMeta](numCols)
    var c = 0
    while (c < numCols) {
      val tag = tags(c)
      val chunk = new ColumnChunk(tag, n)
      chunk.longs = longCols(c)
      chunk.doubles = doubleCols(c)
      chunk.strings = stringCols(c)
      chunk.isNull = nullCols(c)
      if (arrHold(c) != null) {
        val hold = arrHold(c)
        chunk.arrLens = arrLenCols(c)
        chunk.elemLongs = hold.elemLongs
        chunk.elemDoubles = hold.elemDoubles
        chunk.elemStrings = hold.elemStrings
        chunk.elemNull = hold.elemNull
        chunk.elemCount = hold.elemCount
        if (tag == PhysType.ArrStruct) {
          // element-leaf views at the element count (same buffer-view
          // trick as map sides)
          val st = fields(c).dataType.asInstanceOf[ArrayType]
            .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
          chunk.structLeaves = hold.structLeaves.zip(st.fields).map { case (lh, f) =>
            lh.asEntryChunk(PhysType.of(f.dataType), hold.elemCount)
          }
        }
        if (tag == PhysType.ArrArr) {
          chunk.mapVals = hold.mapVals
          chunk.mapValTag = hold.mapValTag
        }
      }
      if (mapKeyHold(c) != null) {
        val mt = fields(c).dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
        chunk.arrLens = arrLenCols(c)
        chunk.mapKeys = mapKeyHold(c)
        chunk.mapVals = mapValHold(c)
        chunk.mapKeyTag = PhysType.of(mt.keyType)
        chunk.mapValTag = PhysType.of(mt.valueType)
      }
      if (structHold(c) != null) {
        // leaf VIEW chunks at the group's row count over the shared
        // buffers (the buffers are blockSize-long; count governs encode);
        // recursive for nested structs and array leaves
        def viewLeaf(hold: ColumnChunk, rows: Int): ColumnChunk = {
          val lc = new ColumnChunk(hold.tag, rows)
          lc.longs = hold.longs
          lc.doubles = hold.doubles
          lc.strings = hold.strings
          lc.isNull = hold.isNull
          if (hold.arrLens != null) {
            lc.arrLens = hold.arrLens
            lc.elemLongs = hold.elemLongs
            lc.elemDoubles = hold.elemDoubles
            lc.elemStrings = hold.elemStrings
            lc.elemNull = hold.elemNull
            lc.elemCount = hold.elemCount
          }
          if (hold.structLeaves != null)
            lc.structLeaves = hold.structLeaves.map(viewLeaf(_, rows))
          if (hold.mapKeys != null) {
            lc.mapKeys = hold.mapKeys
            lc.mapVals = hold.mapVals
            lc.mapKeyTag = hold.mapKeyTag
            lc.mapValTag = hold.mapValTag
          }
          lc
        }
        chunk.structLeaves = structHold(c).map(viewLeaf(_, n))
      }
      encodeBuf.truncate(0)
      // deterministic sampling seed per (partition, row group, column) —
      // the seeded-sampler contract from SURVEY §7.4; never derived from
      // the taskId, so re-running the same write samples identically
      val seed = (partitionId.toLong << 40) ^ (rowGroups.length.toLong << 16) ^ c.toLong
      val stats = ChunkCodec.encode(encodeBuf, chunk, cascade, cfg, seed,
        if (colNdv == null) null else colNdv(c), ndvP)
      val blobLen = encodeBuf.pos
      out.write(encodeBuf.backing, 0, blobLen)
      def kindOf(t: Int, s: graft.format.ChunkCodec.ChunkStats): Int =
        if (PhysType.isIntFamily(t)) { if (s.hasMinMax) 1 else 0 }
        // an all-NaN double chunk still records kind 2 (NaN placeholders +
        // flag) so NaN-exact MIN/MAX pushdown sees it
        else if (t == PhysType.Double || t == PhysType.Float) {
          if (s.hasMinMax || s.hasNaN) 2 else 0
        } else if (PhysType.isStringFamily(t)) { if (s.hasMinMax) 3 else 0 }
        else 0
      val statsKind = kindOf(tag, stats)
      // struct columns: per-leaf stat entries (footer kind 4) so chunk
      // skipping prunes on leaf predicates at planning — RECURSIVE, a
      // nested-struct leaf carries its own kind-4 sub-entries
      def leafMeta(ls: graft.format.ChunkCodec.ChunkStats, t: Int): BtrFile.ColumnChunkMeta =
        BtrFile.ColumnChunkMeta(0, 0, ls.nullCount, kindOf(t, ls),
          ls.minLong, ls.maxLong, ls.minDouble, ls.maxDouble,
          minBytes = ls.minBytes, maxBytes = ls.maxBytes,
          minExact = ls.minExact, maxExact = ls.maxExact,
          hasNaN = ls.hasNaN, sumLong = ls.sumLong, sumOverflow = ls.sumOverflow,
          leafStats =
            if (ls.leafStats == null) null
            else ls.leafStats.zip(ls.leafTags).map { case (s, lt) => leafMeta(s, lt) })
      val leafMetas: Array[BtrFile.ColumnChunkMeta] =
        if (stats.leafStats == null) null
        else stats.leafStats.zip(stats.leafTags).map { case (ls, lt) => leafMeta(ls, lt) }
      colMetas(c) = BtrFile.ColumnChunkMeta(
        offset = bytesWritten,
        length = blobLen,
        nullCount = stats.nullCount,
        statsKind = statsKind,
        minLong = stats.minLong,
        maxLong = stats.maxLong,
        minDouble = stats.minDouble,
        maxDouble = stats.maxDouble,
        minBytes = stats.minBytes,
        maxBytes = stats.maxBytes,
        minExact = stats.minExact,
        maxExact = stats.maxExact,
        hasNaN = stats.hasNaN,
        bloom = stats.bloom,
        sumLong = stats.sumLong,
        sumOverflow = stats.sumOverflow,
        leafStats = leafMetas
      )
      bytesWritten += blobLen
      colNulls(c) += stats.nullCount
      colRawBytes(c) += stats.rawBytes
      colCompBytes(c) += blobLen
      if (arrHold(c) != null) arrHold(c).resetElems()
      if (mapKeyHold(c) != null) { mapKeyHold(c).resetElems(); mapValHold(c).resetElems() }
      if (structHold(c) != null) {
        // array leaves accumulate element streams per group — reset them
        def resetLeaf(hold: ColumnChunk): Unit = {
          hold.resetElems()
          if (hold.structLeaves != null) hold.structLeaves.foreach(resetLeaf)
        }
        structHold(c).foreach(resetLeaf)
      }
      c += 1
    }
    rowGroups += BtrFile.RowGroupMeta(n, colMetas)
    rowsInGroup = 0
  }

  /** Finish the file — footer written, stream closed — but KEEP it at its
    * hidden temp name. Returns (tmpName, message) for the caller to rename
    * at TASK commit (the dynamic-partition spill path: an evicted file
    * must not become visible while the task can still fail or lose a
    * speculation race). None when the file held no rows (deleted).
    */
  def finishPending(): Option[(String, BtrCommitMessage)] = {
    flushGroup()
    val footerBuf = new BufWriter(1 << 16)
    BtrFile.writeFooter(footerBuf,
      BtrFile.Footer(rowGroups.toArray, tags, if (colNdv == null) 0 else ndvP, colNdv), numCols)
    out.write(footerBuf.backing, 0, footerBuf.pos)
    out.close()
    if (totalRows == 0L) {
      fs.delete(new Path(dir, tmpName), false)
      None
    } else Some((tmpName, BtrCommitMessage(fileName, totalRows, colNulls, colRawBytes, colCompBytes)))
  }

  override def commit(): WriterCommitMessage = finishPending() match {
    case None => BtrCommitMessage("", 0L)
    case Some((tmp, msg)) =>
      val dst = new Path(dir, fileName)
      // Hadoop rename refuses to clobber an existing destination. Batch
      // names are unique per write (writeId), so an existing dst can only
      // be a streaming epoch re-attempt replacing its own file — delete
      // it first, then fail LOUDLY if the rename still doesn't land
      // (permissions, quota, races): committing a message for a file that
      // never materialized silently serves stale data.
      if (fileNameOverride.isDefined && fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(new Path(dir, tmp), dst))
        throw new java.io.IOException(
          s"btr: rename $tmp -> $fileName failed in $dir (destination exists or FS error)")
      msg
  }

  override def abort(): Unit = {
    try out.close()
    catch { case _: Throwable => () }
    fs.delete(new Path(dir, tmpName), false)
  }

  override def close(): Unit = ()
}
