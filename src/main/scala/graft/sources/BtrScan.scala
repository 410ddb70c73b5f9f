package graft.sources

import graft.format._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

/** Scan planning for the btr format: column pruning via
  * SupportsPushDownRequiredColumns (only the projected columns' blocks are
  * ever read — structural projection, like the reference's per-column part
  * files), filter pushdown via SupportsPushDownFilters (chunk skipping on
  * footer min/max, the implemented version of the reference's stubbed
  * predicate scan hook, scheme/CompressionScheme.hpp:45-47). All filters
  * are also re-evaluated by Catalyst above the scan, so skipping is purely
  * an I/O optimization and can never change results.
  */
class BtrScanBuilder(path: String, tableSchema: StructType, options: CaseInsensitiveStringMap,
    partCols: Seq[String] = Nil,
    // catalog-pinned time travel (`VERSION AS OF` / `TIMESTAMP AS OF`);
    // the read options btr.versionAsOf/btr.timestampAsOf are the
    // path-API equivalents
    pinnedVersion: Option[Long] = None,
    pinnedTsMicros: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownV2Filters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  // default to the LOGICAL schema: if pruning never runs, a column-mapped
  // table must still not surface tombstoned slots
  private var requiredSchema: StructType = graft.format.BtrColumnMapping.logical(tableSchema)
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[aggregate.Aggregation] = None

  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = required
  }

  // V2 predicate pushdown (SupportsPushDownV2Filters) so NESTED column
  // references reach the scan — V1 Filter translation never carries
  // them. Each predicate converts to the equivalent V1 Filter (dotted
  // attribute names for struct leaves) and the scan machinery keeps
  // operating on Filters: chunk skipping / partition pruning for
  // top-level statable columns, late materialization for struct-leaf
  // predicates, `_file` pruning for provenance queries. ALL predicates
  // remain post-scan residuals (correctness never depends on skipping).
  private var pushedV2: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pushPredicates(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    val kept = predicates.flatMap { p =>
      BtrV2Filters.toV1(p).collect {
        case f if ChunkSkip.supports(tableSchema, f) ||
          BtrLateMat.supportsNested(tableSchema, f) ||
          (BtrScan.fileColActive(tableSchema) &&
            f.references.nonEmpty && f.references.forall(_ == BtrScan.FileMetaCol)) => (p, f)
      }
    }
    pushedV2 = kept.map(_._1)
    pushed = kept.map(_._2)
    predicates
  }

  override def pushedPredicates(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    pushedV2

  // limit pushdown: Spark only offers a limit when everything between it
  // and the scan is already pushed, so planning fewer row groups is safe
  // (the limit still re-applies above the scan)
  private var limit: Option[Int] = None

  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  // ---- metadata-only aggregates ------------------------------------
  // Ungrouped, unfiltered COUNT/MIN/MAX are answered entirely from the
  // footer stats — the scan never touches a data byte (Parquet-style
  // metadata-only queries; exact because footer min/max for the numeric
  // families are exact, and counts come from numRows/nullCount).

  private def singleCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }

  /** min/max answerable exactly from footer stats: the integer families
    * and (since format v2) float/double. Footer double stats exclude NaN
    * but carry a hasNaN flag, so the per-batch partials reproduce Spark's
    * ordering exactly (NaN above every value: max=NaN when present; min is
    * the smallest non-NaN value, NaN only when every value is NaN).
    * Strings push too: short-string bounds are stored untruncated with
    * exactness flag bits, and the agg reader decodes just the rare chunk
    * whose needed bound is truncated (so the answer is exact either way —
    * metadata-only in the common case). String ordering is unsigned
    * byte-wise on UTF-8, identical to UTF8String.compareTo.
    */
  private def exactMinMax(name: String): Boolean =
    !partCols.contains(name) &&
      tableSchema.fields.find(_.name == name).exists { f =>
        f.dataType match {
          case IntegerType | LongType | ShortType | ByteType | BooleanType | DateType |
              TimestampType | TimestampNTZType | DoubleType | FloatType | StringType => true
          case d: DecimalType if d.precision <= 18 => true
          case _ => false
        }
      }

  /** SUM answerable from per-chunk footer sums (format v4): the integer
    * families sum into a wrapped Long — identical to Spark's LongType sum
    * semantics (wrap is associative, so chunk-wise wrapping equals
    * row-wise wrapping) — and decimal(≤18) sums accumulate exactly with a
    * per-chunk decode fallback when a chunk's long sum overflowed.
    * Double/float sums stay on the data path: their result depends on
    * addition order, so a footer sum could differ in the last ulps from
    * Spark's row-order sum.
    */
  private def exactSum(name: String): Boolean =
    !partCols.contains(name) &&
      tableSchema.fields.find(_.name == name).exists { f =>
        f.dataType match {
          case IntegerType | LongType | ShortType | ByteType => true
          case d: DecimalType if d.precision <= 18 => true
          case _ => false
        }
      }

  private def canPushAgg(agg: aggregate.Aggregation): Boolean =
    // a (mis-directed) BATCH read with btr.readChanges must reach the
    // data scan's loud refusal — a pushed aggregate would silently
    // answer from the CURRENT table instead of erroring. A chunk-SAMPLE
    // read refuses too: footer aggregates cover every chunk, but the
    // caller asked for a bounded random subset
    !BtrOptions.readChanges(options) &&
      BtrOptions.sampleChunks(options).isEmpty &&
      pushed.isEmpty &&
      // grouping is pushable only on partition columns: their values are
      // directory names, so per-group footers stay metadata-only
      agg.groupByExpressions().forall(e => singleCol(e).exists(partCols.contains)) &&
      agg.aggregateExpressions().nonEmpty &&
      agg.aggregateExpressions().forall {
        case _: aggregate.CountStar => true
        case c: aggregate.Count =>
          // partition columns aren't in footers — their counts stay on
          // the data path
          !c.isDistinct && singleCol(c.column())
            .exists(n => tableSchema.fieldNames.contains(n) && !partCols.contains(n))
        case m: aggregate.Min => singleCol(m.column()).exists(exactMinMax)
        case m: aggregate.Max => singleCol(m.column()).exists(exactMinMax)
        case s: aggregate.Sum => !s.isDistinct && singleCol(s.column()).exists(exactSum)
        case _ => false
      }

  // PARTIAL pushdown, never complete: each footer-batch partition emits one
  // row of partials and Spark's final aggregate merges them (min-of-mins,
  // sum-of-counts, NaN-aware) — so footer reads parallelize across tasks
  // instead of one task tail-reading every file (a straggler at 100k files)
  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean = false

  private val travelVersion: Option[Long] =
    pinnedVersion.orElse(BtrOptions.versionAsOf(options))
  private val travelTs: Option[Long] =
    pinnedTsMicros.orElse(BtrOptions.timestampAsOf(options))

  /** Footer-stats aggregate pushdown is UNSOUND once any deletion
    * vector applies: counts include masked rows, and a masked row may
    * hold the recorded min/max. One small check per agg query, gated on
    * the table-meta flag so non-DV tables pay nothing; refusal falls
    * back to the (mask-correct) row scan.
    */
  private lazy val dvPresent: Boolean = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    BtrTableMeta.readDeletionVectors(fs, dir) && {
      val root = fs.makeQualified(dir)
      if (changesFrom.isDefined) {
        // change-feed reads: footer aggregates are wrong whenever masks
        // touch the range — a masked removed file's delete side serves
        // SURVIVORS, and the dv sides serve event rows, never whole files
        try {
          changesTo.orElse(BtrLog.latestVersion(fs, root)) match {
            case None => false
            case Some(toV) =>
              val r = BtrChanges.resolveRange(fs, root, changesFrom.get, toV)
              r.dvAdded.nonEmpty || r.dvDropped.nonEmpty || r.maskRelsOfRemoved.nonEmpty
          }
        } catch { case _: Exception => true } // build() raises loudly; stay safe
      } else {
        val snap =
          if (travelVersion.isDefined || travelTs.isDefined)
            try Some(BtrLog.resolve(fs, root, travelVersion, travelTs))
            catch { case _: Exception => None } // build() re-raises loudly
          else BtrLog.latestVersion(fs, root).map(BtrLog.resolveSnapshot(fs, root, _))
        snap.exists(_.files.exists(graft.format.DeletionVector.isDvRel))
      }
    }
  }

  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    val ok = canPushAgg(agg) && !dvPresent
    if (ok) pushedAgg = Some(agg)
    ok
  }

  private val changesFrom: Option[Long] = BtrOptions.changesFromVersion(options)
  private val changesTo: Option[Long] = BtrOptions.changesToVersion(options)

  override def build(): Scan = {
    // resolve the pinned snapshot at build time: the version error (out
    // of retention, no log) surfaces at planning, not inside tasks.
    // A change-feed read resolves to the files ADDED in the range — the
    // same onlyFiles restriction as time travel, so pushdown, chunk
    // skipping and the loud missing-file check all apply unchanged.
    require(changesFrom.isDefined || changesTo.isEmpty,
      "btr: btr.changesToVersion requires btr.changesFromVersion")
    require(changesFrom.isEmpty || (travelVersion.isEmpty && travelTs.isEmpty),
      "btr: a change-feed read (btr.changesFromVersion) cannot also pin a " +
        "time-travel snapshot — the range's `to` bound IS its snapshot")
    require(changesFrom.isEmpty || BtrOptions.sampleChunks(options).isEmpty,
      "btr.sampleChunks is a batch SAMPLING option — a change feed must " +
        "serve every change row")
    var deleteSide = false
    var dvEmit = false
    var dvPrior: Set[String] = Set.empty
    val snapshot: Option[BtrLog.Snapshot] =
      if (changesFrom.isDefined) {
        val dir = new Path(path)
        val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
        val root = fs.makeQualified(dir)
        val toV = changesTo.orElse(BtrLog.latestVersion(fs, root)).getOrElse(
          throw new IllegalArgumentException(
            s"btr: no snapshot log at $root — change feeds need commits made " +
              "by a log-aware writer"))
        def dvEventSnapshot(events: Seq[BtrChanges.DvEvent]): Option[BtrLog.Snapshot] = {
          dvEmit = true
          dvPrior = events.flatMap(_.priorRels).toSet
          val files = events.flatMap(e => e.targetRel +: (e.blobRels ++ e.priorRels)).distinct
          val sizes = events.flatMap(_.sizes).toMap
          Some(BtrLog.Snapshot(toV, 0L, "changes-dv", files.sorted, sizes))
        }
        BtrOptions.changesSide(options) match {
          case "insert" =>
            // strict: refuses removed history (raw-option consumers get
            // the loud error; BtrChanges.between pairs the lenient sides)
            val added = BtrChanges.resolveAdded(fs, root, changesFrom.get, toV)
            Some(BtrLog.Snapshot(toV, 0L, "changes", added.addedRel, added.sizes))
          case "insert-lenient" =>
            val r = BtrChanges.resolveRange(fs, root, changesFrom.get, toV)
            Some(BtrLog.Snapshot(toV, 0L, "changes", r.added.addedRel, r.added.sizes))
          case "delete" =>
            // the REMOVED files of the range: resolution happens in the
            // scan through the retention store (snapshotVersion = from,
            // so a vacuumed file fails loudly, never partially). Blobs
            // that masked a removed file ride along so the scan serves
            // its SURVIVORS (masked rows were reported at blob commit).
            val r = BtrChanges.resolveRange(fs, root, changesFrom.get, toV)
            deleteSide = true
            val maskBlobs = r.maskRelsOfRemoved.values.flatten.toSeq.distinct
            Some(BtrLog.Snapshot(math.max(changesFrom.get, 1L), 0L, "changes-del",
              r.removedRels ++ maskBlobs, r.removedSizes))
          case "dv-delete" =>
            // row-level delete events of ONE deletion-vector commit
            val v = BtrOptions.changesDvVersion(options)
            val r = BtrChanges.resolveRange(fs, root, changesFrom.get, toV)
            dvEventSnapshot(r.dvAdded.filter(_.version == v))
          case "dv-insert" =>
            // row-level insert events of ONE blob-dropping commit
            // (RESTORE rewinding a delete)
            val v = BtrOptions.changesDvVersion(options)
            val r = BtrChanges.resolveRange(fs, root, changesFrom.get, toV)
            dvEventSnapshot(r.dvDropped.filter(_.version == v))
        }
      } else if (travelVersion.isEmpty && travelTs.isEmpty) None
      else {
        val dir = new Path(path)
        val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
        Some(BtrLog.resolve(fs, fs.makeQualified(dir), travelVersion, travelTs))
      }
    pushedAgg match {
      case Some(agg) =>
        // metadata-only aggregates stay correct under time travel: the
        // pinned snapshot's own footers answer, not the current file set
        new BtrAggScan(path, tableSchema, agg, partCols,
          agg.groupByExpressions().toSeq.flatMap(singleCol),
          onlyFiles = snapshot.map(_.fileSet),
          snapshotVersion = snapshot.map(_.version),
          onlySizes = snapshot.map(_.sizes).getOrElse(Map.empty),
          preferStoreResolution = deleteSide)
      case None =>
        new BtrScan(path, tableSchema, requiredSchema, pushed, BtrOptions.splitBytes(options), limit, partCols,
          BtrOptions.expansionFactor(options), BtrOptions.maxFilesPerTrigger(options),
          BtrOptions.splitParallelism(options),
          startingVersion = BtrOptions.startingVersion(options),
          startingTimestampMicros = BtrOptions.startingTimestamp(options),
          onlyFiles = snapshot.map(_.fileSet),
          snapshotVersion = snapshot.map(_.version),
          onlySizes = snapshot.map(_.sizes).getOrElse(Map.empty),
          readChanges = BtrOptions.readChanges(options),
          preferStoreResolution = deleteSide,
          dvEmitDeleted = dvEmit,
          dvPriorRels = dvPrior,
          sampleChunks = BtrOptions.sampleChunks(options),
          sampleSeed = BtrOptions.sampleSeed(options))
    }
  }
}

class BtrScan(
    path: String,
    tableSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    splitBytes: Long,
    limit: Option[Int] = None,
    partCols: Seq[String] = Nil,
    expansionFactor: Double = 4.0,
    maxFilesPerTrigger: Option[Int] = None,
    // target split count for the small-table parallelism floor
    // (0 = the session's defaultParallelism; 1 disables subdivision)
    splitParallelism: Int = 0,
    // streaming source: begin after this snapshot version ("latest" =
    // after stream start); fresh checkpoints only
    startingVersion: Option[String] = None,
    // CDC stream: begin after the newest snapshot at-or-before this
    // instant (micros since epoch); fresh checkpoints only
    startingTimestampMicros: Option[Long] = None,
    // group-rewrite mode (row-level DELETE/UPDATE/MERGE): restrict the scan
    // to `onlyFiles` (root-relative paths) and read them IN FULL — the
    // paired ReplaceData write replaces whole files, so any chunk skipped
    // here would silently drop its surviving rows from the rewrite.
    // Callers pass filters = empty; `rewriteGroups` additionally refuses
    // runtime filters for the same reason.
    onlyFiles: Option[Set[String]] = None,
    rewriteGroups: Boolean = false,
    // pre-listed file entries (row-level ops classified them already) —
    // skips this scan's own listing; onlyFiles filtering is then the
    // caller's responsibility
    preListed: Option[Array[BtrTableMeta.DataFileEntry]] = None,
    // invoked when the runtime group filter narrows a rewrite scan's file
    // set, so the paired ReplaceData write replaces exactly what was read
    onRewriteNarrowed: Option[Array[BtrTableMeta.DataFileEntry] => Unit] = None,
    // time travel: `onlyFiles` came from this snapshot-log version — every
    // named file MUST still exist (a pruned file means history was
    // physically truncated by OPTIMIZE/DELETE; serving the survivors
    // would be a silently wrong historical view, so fail loudly instead)
    snapshotVersion: Option[Long] = None,
    // snapshot-recorded file lengths (rel → len): detects rel-path reuse
    onlySizes: Map[String, Long] = Map.empty,
    // streaming CDC read (btr.readChanges): toMicroBatchStream returns
    // the version-offset change stream instead of the file stream
    readChanges: Boolean = false,
    // delete-side change feed: resolve `onlyFiles` through the retention
    // store FIRST — a live file under a removed rel is a later re-add,
    // and with an equal recorded length the live-first path would serve
    // the new incarnation's bytes as history
    preferStoreResolution: Boolean = false,
    // invoked with the deletion-vector rels this scan applies — a paired
    // row-level rewrite's commit conflicts when the committed set has
    // changed since (see BtrOverwriteMode.ReplaceFiles)
    onDvApplied: Option[Set[String] => Unit] = None,
    // change-feed DV event read: emit exactly the rows the onlyFiles dv
    // blobs delete (not the survivors), minus rows `dvPriorRels` blobs
    // already masked — the row source of `_change_type='delete'` events
    // for a deletion-vector commit (and of 'insert' events for a RESTORE
    // that dropped blobs)
    dvEmitDeleted: Boolean = false,
    dvPriorRels: Set[String] = Set.empty,
    // seeded random chunk sample (btr.sampleChunks/btr.sampleSeed): plan
    // at most N row groups, chosen by a deterministic shuffle — the
    // reference's getRanges(RANDOM, max_chunk_count) sampling surface
    sampleChunks: Option[Int] = None,
    sampleSeed: Long = 42L
) extends Scan
    with Batch
    with SupportsRuntimeFiltering
    with SupportsReportStatistics
    with SupportsReportPartitioning
    with SupportsReportOrdering {

  /** Footer column layout: the table schema minus IDENTITY partition
    * columns (their values live in directory names, not data files).
    * Transform-partition SOURCE columns stay in the files; their derived
    * directory values only prune (see `txParts`).
    */
  private val dataSchema: StructType =
    if (partCols.isEmpty) tableSchema
    else StructType(tableSchema.fields.filterNot(f => partCols.contains(f.name)))

  // identity names vs derived transform fields of the partition spec
  private val idParts: Seq[String] =
    graft.format.PartitionTransform.identityNames(partCols)
  private val txParts: Seq[graft.format.PartField] =
    graft.format.PartitionTransform.transformFields(partCols)
  // fields that can carry a split partition key (HasPartitionKey):
  // identity values and bucket ordinals — matches outputPartitioning's
  // reportable set, in spec order
  private val keyFields: Seq[graft.format.PartField] =
    partCols.map(graft.format.PartitionTransform.parse)
      .filter(f => f.isIdentity || f.fn == "bucket")

  /** File listing + footers, read once per Scan instance and shared by
    * statistics estimation and (possibly repeated, after runtime filters)
    * partition planning — one listing and one footer tail-read per file,
    * fetched with bounded concurrency (serial tail-reads would make the
    * driver the planning bottleneck on a many-file table; the reference
    * parallelizes the same metadata pass with TBB,
    * tools/conversion/decompression-speed.cpp:46-59).
    */
  /** Deletion-vector blobs by TARGET data-file rel path (absolute blob
    * paths). For pinned snapshots the set is exactly the snapshot's own
    * `_btr_dv/` rels; for current reads it is the log's LATEST resolved
    * snapshot, fetched BEFORE the data listing (the log-before-listing
    * order makes every interleaving a consistent, possibly slightly
    * older, state — see [[graft.format.DeletionVector]]). Gated on the
    * table-meta flag so non-DV tables pay nothing.
    */
  private lazy val dvAndEntries: ((Map[String, Array[String]], Map[String, Array[String]]),
      Array[BtrTableMeta.DataFileEntry]) = {
    import graft.format.DeletionVector
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val root = fs.makeQualified(dir)
    def resolve(rels: Iterable[String]): Map[String, Array[String]] =
      rels.toSeq.flatMap { rel =>
        DeletionVector.targetOf(rel).map { target =>
          val live = new Path(root, rel)
          val p =
            if (fs.exists(live)) live
            else graft.format.BtrRetention.resolveRemoved(fs, root, rel, onlySizes.get(rel))
              .map(_.path).getOrElse(throw new IllegalStateException(
                s"btr: snapshot references deletion vector $rel which no longer exists " +
                  s"under $path — history has been physically truncated (VACUUM / " +
                  "unretained removal); this historical view is gone"))
          target -> p.toString
        }
      }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
    def listEntries(): Array[BtrTableMeta.DataFileEntry] = preListed.getOrElse {
      val all = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
      onlyFiles match {
        case Some(set) =>
          // snapshot resolution falls back to the _btr_removed retention
          // store for files later commits removed (loud when genuinely
          // gone — see BtrRetention.resolveFileSet); dv rels resolved
          // separately above
          graft.format.BtrRetention.resolveFileSet(
            fs, fs.makeQualified(dir), all,
            set.filterNot(graft.format.DeletionVector.isDvRel),
            snapshotVersion, path,
            wantSizes = onlySizes, preferStore = preferStoreResolution)
        case None => all
      }
    }
    def done(mainRels: Set[String], entries: Array[BtrTableMeta.DataFileEntry]) = {
      onDvApplied.foreach(_(mainRels))
      ((resolve(mainRels), resolve(dvPriorRels)), entries)
    }
    onlyFiles match {
      case Some(set) =>
        // pinned snapshot / change-feed read: the file set is
        // log-resolved already — no planning race to guard
        done(set.filter(DeletionVector.isDvRel) -- dvPriorRels, listEntries())
      case None if preListed.nonEmpty || !BtrTableMeta.readDeletionVectors(fs, dir) =>
        done(Set.empty, listEntries())
      case None =>
        // CURRENT read on a merge-on-read table: resolve the mask set
        // from the log BEFORE the data listing (the commit protocol's
        // consistency argument), CAPTURE the pending markers first, and
        // hide the captured markers' insert files from the listing even
        // if a marker retires in between — otherwise a rowdelta commit
        // finishing inside the resolve→list gap would expose its insert
        // files while this plan's mask set still lacks its blobs: old
        // AND new row images both emitted, a state that never existed.
        // A commit that both starts and finishes inside the gap leaves
        // no marker to capture, so after listing the log is re-checked
        // for rowdelta entries (and brand-new markers) and the plan
        // retries — each attempt is milliseconds of metadata I/O, so a
        // stable pass is reached long before the bound in practice.
        def attemptPlan(attempt: Int): (Set[String], Array[BtrTableMeta.DataFileEntry]) = {
          val markers0 = BtrTableMeta.readDvPending(fs, root)
          val marker0Names = markers0.map(_._1.getName).toSet
          val pendingBlobs = markers0.flatMap(_._2).flatMap(_.sources).toSet
          val v0 = BtrLog.latestVersion(fs, root)
          val mainRels: Set[String] = v0 match {
            case None => Set.empty
            case Some(v) => BtrLog.resolveSnapshot(fs, root, v).files
              .filter(DeletionVector.isDvRel).toSet -- pendingBlobs
          }
          val hook = BtrScan.betweenDvResolveAndListing
          BtrScan.betweenDvResolveAndListing = () => ()
          hook()
          val listed = listEntries()
          val hidden = markers0.flatMap(_._2).flatMap(_.finals)
            .map(rel => new Path(root, rel).toUri.getPath).toSet
          val entries =
            if (hidden.isEmpty) listed
            else listed.filterNot(e => hidden.contains(e.path.toUri.getPath))
          val gapRowdelta = (v0, BtrLog.latestVersion(fs, root)) match {
            case (Some(a), Some(b)) if b > a =>
              ((a + 1) to b).exists { v =>
                val action =
                  try BtrLog.readEntry(fs, root, v).action
                  catch { case _: IllegalArgumentException => "rowdelta" } // pruned: retry
                action.startsWith("rowdelta")
              }
            case (None, Some(_)) => true // first commits landed mid-plan
            case _ => false
          }
          val newMarkers = BtrTableMeta.readDvPending(fs, root)
            .exists(m => !marker0Names.contains(m._1.getName))
          if (!gapRowdelta && !newMarkers) (mainRels, entries)
          else if (attempt < 5) attemptPlan(attempt + 1)
          else throw new IllegalStateException(
            s"btr: cannot plan a consistent read of $path — merge-on-read " +
              "commits kept landing inside the resolve-listing window on " +
              s"every of ${attempt + 1} attempts; retry the query")
        }
        val (mainRels, entries) = attemptPlan(0)
        done(mainRels, entries)
    }
  }

  private def dvResolved: (Map[String, Array[String]], Map[String, Array[String]]) =
    dvAndEntries._1

  private def dvByTarget: Map[String, Array[String]] = dvResolved._1

  // footers with the number of them tail-read (the rest came from the
  // footer-index sidecar)
  private lazy val discoveredAndReads: (Array[(BtrTableMeta.DataFileEntry, BtrFile.Footer)], Int) = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    BtrFooters.readCounted(fs, dir, dvAndEntries._2)
  }

  private def discovered: Array[(BtrTableMeta.DataFileEntry, BtrFile.Footer)] = discoveredAndReads._1

  /** Table statistics from footers only: row count is exact; size is the
    * DECODED bytes of the REQUIRED columns (post-pruning) — per-column
    * compressed footer bytes scaled by the commit-time raw/compressed
    * ratio from `_btr_stats.json` (fallback: `btr.expansionFactor`).
    * Catalyst compares sizeInBytes against autoBroadcastJoinThreshold as
    * an IN-MEMORY footprint; reporting compressed bytes (1.6-4x smaller)
    * would auto-broadcast join sides well above that budget — OOM risk at
    * scale. Small btr dims still broadcast (vs the DSv2 default of
    * Long.MaxValue).
    */
  override def estimateStatistics(): Statistics = {
    val dir = new Path(path)
    val ratios = BtrTableMeta.readStatsRatios(dir.getFileSystem(BtrTableMeta.hadoopConf()), dir)
    val colIdx = requiredSchema.fields.flatMap(f =>
      if ((BtrScan.fileColActive(tableSchema) && f.name == BtrScan.FileMetaCol) ||
        (BtrScan.posColActive(tableSchema) && f.name == BtrScan.PosMetaCol) ||
        partCols.contains(f.name)) None
      else Some((dataSchema.fieldIndex(f.name), ratios.getOrElse(f.name, expansionFactor))))
    var rows = 0L
    var bytes = 0.0
    discovered.foreach { case (_, footer) =>
      footer.rowGroups.foreach { rg =>
        rows += rg.numRows
        colIdx.foreach { case (ci, ratio) =>
          if (ci < rg.columns.length) bytes += rg.columns(ci).length * ratio
        }
      }
    }
    val r = rows
    val b = math.max(bytes.toLong, 1L)
    val colStats = columnStatsFromFooters(r)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(r)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  /** Per-column statistics for Catalyst's cost-based optimizer, derived
    * from footers alone: nullCount and min/max aggregate the chunk metas
    * (exact), and distinctCount merges the per-file HyperLogLog sketches
    * the writer embeds (footer v6) — elementwise-max union, so the table
    * NDV estimate is sketch-exact over all files with zero data I/O.
    * Partition columns report EXACT stats from the directory listing.
    * This is what `spark.sql.cbo.enabled` needs for join-order and
    * filter-selectivity estimates; an ANALYZE-style scan of 100 TB is
    * never required. Columns lacking a sketch in any contributing file
    * (pre-v6 files, `btr.ndv.enabled=false`, precision mismatch) simply
    * omit distinctCount — never a wrong estimate.
    */
  private def columnStatsFromFooters(tableRows: Long): java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()

    def put(name: String, ndv: Option[Long], mn: Option[Any], mx: Option[Any],
        nulls: Long): Unit = {
      out.put(Expressions.column(name), new ColumnStatistics {
        override def distinctCount(): java.util.OptionalLong =
          ndv.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
        override def min(): java.util.Optional[Object] =
          mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
            .getOrElse(java.util.Optional.empty[Object]())
        override def max(): java.util.Optional[Object] =
          mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
            .getOrElse(java.util.Optional.empty[Object]())
        override def nullCount(): java.util.OptionalLong = java.util.OptionalLong.of(nulls)
      })
    }

    def boxLong(dt: DataType, v: Long): Option[Any] = dt match {
      case IntegerType | DateType => Some(Int.box(v.toInt))
      case LongType | TimestampType => Some(Long.box(v))
      case ShortType => Some(Short.box(v.toShort))
      case ByteType => Some(Byte.box(v.toByte))
      case BooleanType => Some(Boolean.box(v != 0L))
      case d: DecimalType if d.precision <= 18 =>
        Some(org.apache.spark.sql.types.Decimal.createUnsafe(v, d.precision, d.scale))
      case _ => None
    }

    // exact partition-column stats from the listing (values live in
    // directory names; per-file row counts come from the footers)
    def partStats(f: StructField): Unit = {
      val nullPart = BtrTableMeta.NullPartition
      val distinct = scala.collection.mutable.LinkedHashSet.empty[String]
      var nullRows = 0L
      discovered.foreach { case (e, fo) =>
        val v = e.partitionValues.getOrElse(f.name, nullPart)
        if (v == nullPart) nullRows += fo.numRows else distinct += v
      }
      val mm: Option[(Any, Any)] =
        if (distinct.isEmpty) None
        else try {
          f.dataType match {
            case IntegerType | LongType | ShortType | ByteType =>
              val ls = distinct.toSeq.map(_.toLong)
              for (a <- boxLong(f.dataType, ls.min); b <- boxLong(f.dataType, ls.max))
                yield (a, b)
            case DateType =>
              val ds = distinct.toSeq.map(s => java.time.LocalDate.parse(s).toEpochDay.toInt)
              Some((Int.box(ds.min), Int.box(ds.max)))
            case TimestampType =>
              val ts = distinct.toSeq.map(BtrPartTime.instantMicros)
              Some((Long.box(ts.min), Long.box(ts.max)))
            // TimestampNTZType deliberately absent (see boxLong)
            case _ => None
          }
        } catch { case _: RuntimeException | _: java.time.DateTimeException => None }
      put(f.name, Some(distinct.size.toLong), mm.map(_._1), mm.map(_._2), nullRows)
    }

    def dataStats(f: StructField): Unit = {
      val ci = dataSchema.fieldIndex(f.name)
      var nulls = 0L
      var sawNaN = false
      var haveLong = false; var minL = Long.MaxValue; var maxL = Long.MinValue
      var haveD = false; var minD = java.lang.Double.MAX_VALUE; var maxD = -java.lang.Double.MAX_VALUE
      var ndvKnown = true
      var ndvP = 0
      var merged: Array[Byte] = null
      discovered.foreach { case (_, footer) =>
        val present = footer.rowGroups.nonEmpty && footer.rowGroups.head.columns.length > ci
        if (!present) {
          // pre-widening file: the column reads as all null
          nulls += footer.numRows
        } else {
          footer.rowGroups.foreach { rg =>
            val c = rg.columns(ci)
            nulls += c.nullCount
            c.statsKind match {
              case 1 =>
                haveLong = true
                if (c.minLong < minL) minL = c.minLong
                if (c.maxLong > maxL) maxL = c.maxLong
              case 2 =>
                if (c.hasNaN) sawNaN = true
                if (!(c.minDouble.isNaN || c.maxDouble.isNaN)) {
                  haveD = true
                  if (c.minDouble < minD) minD = c.minDouble
                  if (c.maxDouble > maxD) maxD = c.maxDouble
                }
              case _ => ()
            }
          }
          if (ndvKnown && footer.numRows > 0) {
            val reg = footer.ndvOf(ci)
            if (reg == null || footer.ndvP == 0 || (merged != null && footer.ndvP != ndvP))
              ndvKnown = false
            else if (merged == null) { ndvP = footer.ndvP; merged = reg.clone() }
            else Hll.merge(merged, reg)
          }
        }
      }
      val nonNull = math.max(tableRows - nulls, 0L)
      val ndv: Option[Long] =
        if (!ndvKnown) None
        else if (merged == null || nonNull == 0L) Some(0L).filter(_ => nonNull == 0L)
        else Some(math.max(math.min(Hll.estimate(merged, ndvP), nonNull), 1L))
      // NaN-polluted double columns drop min/max (Spark orders NaN above
      // every value; a finite max would misestimate > ranges)
      val mm: Option[(Any, Any)] = f.dataType match {
        case FloatType if haveD && !sawNaN =>
          Some((Float.box(minD.toFloat), Float.box(maxD.toFloat)))
        case DoubleType if haveD && !sawNaN =>
          Some((Double.box(minD), Double.box(maxD)))
        case _ if haveLong =>
          for (a <- boxLong(f.dataType, minL); b <- boxLong(f.dataType, maxL)) yield (a, b)
        case _ => None
      }
      put(f.name, ndv, mm.map(_._1), mm.map(_._2), nulls)
    }

    requiredSchema.fields.foreach { f =>
      if ((BtrScan.fileColActive(tableSchema) && f.name == BtrScan.FileMetaCol) ||
        (BtrScan.posColActive(tableSchema) && f.name == BtrScan.PosMetaCol)) ()
      // NO stats entry at all for TIMESTAMP_NTZ columns: Spark 4.1's
      // FilterEstimation.evaluateBinary is entered on colStatsMap
      // CONTAINS (not on min/max presence) and its type match has no
      // TimestampNTZType case — any stats entry would MatchError every
      // cbo-enabled binary filter on the column
      else if (f.dataType == TimestampNTZType) ()
      else if (partCols.contains(f.name)) partStats(f)
      else dataStats(f)
    }
    out
  }

  /** Storage-partitioned joins (the DSv2 bucketed-join path, enabled by
    * `spark.sql.sources.v2.bucketing.enabled`): a hive-partitioned table
    * reports KeyGroupedPartitioning over its partition columns, every
    * split carries its partition key ([[BtrInputPartition.partitionKey]]),
    * and Spark groups splits per key — two btr tables partitioned on the
    * same key then join with ZERO shuffle on either side, the co-located
    * join that matters most at fact-fact scale. Falls back to unknown
    * (plain shuffle planning) whenever a partition column is pruned from
    * the output or the table is unpartitioned.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    // reportable fields: identity (the directory value IS the column) and
    // bucket (Spark resolves the transform through the catalog's bucket
    // function — see BtrBucketFunction); a time/truncate transform in the
    // spec falls back to unknown (plain shuffle planning). Every
    // reportable source must survive in the output schema.
    val fields = partCols.map(graft.format.PartitionTransform.parse)
    val reportable = fields.nonEmpty && fields.forall { f =>
      (f.isIdentity || f.fn == "bucket") &&
        requiredSchema.fieldNames.contains(f.source)
    }
    if (!reportable)
      return new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    // Spark 4.1's V2ScanPartitioningAndOrdering reads only keys() from
    // this object and regroups splits by HasPartitionKey itself
    // (BatchScanExec derives the partition count from the grouped
    // splits), so planning here just to count distinct keys would be a
    // second full planning pass for a number nothing reads — report 0
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      fields.map { f =>
        if (f.isIdentity)
          org.apache.spark.sql.connector.expressions.Expressions.identity(f.source):
            org.apache.spark.sql.connector.expressions.Expression
        else
          org.apache.spark.sql.connector.expressions.Expressions.bucket(f.arg, f.source):
            org.apache.spark.sql.connector.expressions.Expression
      }.toArray,
      0)
  }

  /** Within any one split the partition key is CONSTANT (a split never
    * crosses a hive directory, and key-grouped regrouping only merges
    * splits of the SAME key), and a constant sequence is sorted under any
    * direction — so a partitioned scan reports ordering by its partition
    * columns for free. The payoff: a sort-merge join over the
    * storage-partitioned path drops its per-partition SortExec on both
    * sides (sorting rows by a value that never changes inside the
    * partition), making SPJ zero-shuffle AND zero-sort; `GROUP BY` the
    * partition key via sort-based aggregation skips the same way.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (partCols.isEmpty || !partCols.forall(requiredSchema.fieldNames.contains))
      return Array.empty
    // the claim is valid per split only while every split holds ONE
    // partition key; a PACKED split spans keys in directory order (not
    // value order), so ordering is reported exactly when packing did not
    // engage (memoized planning — no extra pass)
    if (planInputPartitions().exists(_.isInstanceOf[BtrPackedInputPartition]))
      return Array.empty
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  // runtime filters (e.g. IN-sets of join keys from a filtered broadcast
  // side, Spark's DPP analog for DSv2) arrive after planning starts and
  // compose with the statically pushed filters for chunk skipping
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // a group-rewrite scan must return whole files, so the ONLY runtime
    // filter it accepts is on the `_file` group identity (Spark's
    // row-level runtime group filtering: a subquery computes the files
    // holding matching rows and the rewrite shrinks to exactly those) —
    // value-column runtime filters would prune chunks whose surviving
    // rows the rewrite must preserve
    if (rewriteGroups) {
      // ONLY when _file is the metadata column: with a data column of
      // that name the group-filter subquery would collect DATA values and
      // the path intersection would narrow the rewrite to nothing — a
      // silently no-op DML statement
      if (BtrScan.fileColActive(tableSchema))
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(BtrScan.FileMetaCol))
      else Array.empty
    } else requiredSchema.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  // runtime group narrowing (rewrite scans only): the subset of the
  // pre-listed files the dynamic `_file` IN-set kept
  @volatile private var rewriteNarrow: Option[Set[String]] = None

  override def filter(fs: Array[Filter]): Unit = {
    if (rewriteGroups) {
      if (!BtrScan.fileColActive(tableSchema)) return // _file is data here
      val allowed: Option[Set[String]] = fs.collectFirst {
        case In(BtrScan.FileMetaCol, vs) => vs.map(String.valueOf).toSet
        case EqualTo(BtrScan.FileMetaCol, v) => Set(String.valueOf(v))
      }
      allowed.foreach { set =>
        rewriteNarrow = Some(set)
        val kept = preListed.getOrElse(Array.empty)
          .filter(e => set.contains(e.path.toString))
        onRewriteNarrowed.foreach(_(kept))
        planned = null // re-plan over the narrowed set
      }
      return
    }
    val kept = fs.filter(ChunkSkip.supports(tableSchema, _))
    // keep the plan memo warm when nothing usable changed (the common
    // case: a runtime filter arrives but none of it survives support
    // filtering) — Filter equality is structural, In included
    if (!kept.sameElements(runtimeFilters)) runtimeFilters = kept
  }

  override def readSchema(): StructType = requiredSchema

  override def description(): String =
    s"btr $path, pushed chunk-skip filters: [${filters.mkString(", ")}]"

  override def toBatch: Batch = this

  // planning runs once per runtime-filter state: Spark asks for the
  // partitions and (on partitioned tables) outputPartitioning derives its
  // key count from the same pass — memoized so a 100k-file table plans
  // once, not twice, per query
  private var plannedFor: Array[Filter] = null
  private var planned: Array[InputPartition] = _
  // row groups the last planning pruned by footer stats or bloom
  private var statsPruned = 0L

  override def planInputPartitions(): Array[InputPartition] = {
    require(!readChanges,
      "btr.readChanges is a STREAMING read option (spark.readStream); batch change " +
        "reads use btr.changesFromVersion/btr.changesToVersion (BtrChanges.between)")
    if (planned == null || !(plannedFor eq runtimeFilters)) {
      planned = doPlanInputPartitions()
      plannedFor = runtimeFilters
    }
    planned
  }

  private def doPlanInputPartitions(): Array[InputPartition] = {
    // required column layout: data columns map to footer indices;
    // partition columns and the _file metadata column synthesize as
    // per-file constants (directory value / file path)
    val fileActive = BtrScan.fileColActive(tableSchema)
    val posActive = BtrScan.posColActive(tableSchema)
    val colKinds = requiredSchema.fields.map { f =>
      if ((fileActive && f.name == BtrScan.FileMetaCol) ||
        (posActive && f.name == BtrScan.PosMetaCol) || partCols.contains(f.name)) -1
      else dataSchema.fieldIndex(f.name)
    }
    val dataIdx = colKinds.filter(_ >= 0)
    val allFilters = filters ++ runtimeFilters
    var plannedRows = 0L // pushed-limit budget (limit re-applies above)
    // Spark only pushes a limit when no residual filter sits between it
    // and the scan; guard anyway — truncation is only safe unfiltered.
    // Deletion vectors also disable the truncation: planned row counts
    // include masked rows, so a budget hit could under-deliver the limit
    val rowBudget = if (allFilters.isEmpty && dvByTarget.isEmpty) limit else None
    val qualifiedRoot = {
      val dir = new Path(path)
      dir.getFileSystem(BtrTableMeta.hadoopConf()).makeQualified(dir)
    }
    val rootPrefixLen = qualifiedRoot.toUri.getPath.length + 1
    // rel path for DV lookup: store-resolved snapshot entries decode back
    // to their original rel; live entries strip the root prefix
    def dvRelOf(p: Path): String =
      graft.format.BtrRetention.relOfStorePath(qualifiedRoot, p).getOrElse {
        val pp = p.toUri.getPath
        if (pp.length > rootPrefixLen) pp.substring(rootPrefixLen) else pp
      }

    // one slice per surviving file (its row groups filled in below), in
    // listing order
    val slices = scala.collection.mutable.ArrayBuffer.empty[BtrInputPartition]
    var pruned = 0L
    val live = rewriteNarrow match {
      case Some(set) => discovered.filter { case (e, _) => set.contains(e.path.toString) }
      case None => discovered
    }
    // `_file` prunes through the partition machinery: its value is a
    // per-file constant exactly like a directory value
    val pruneSchema =
      if (fileActive && allFilters.exists(_.references.contains(BtrScan.FileMetaCol)))
        StructType(tableSchema.fields :+
          org.apache.spark.sql.types.StructField(BtrScan.FileMetaCol, StringType))
      else tableSchema
    live.foreach { case (entry, footer) =>
      val file = entry.path
      val partValues =
        if (pruneSchema eq tableSchema) entry.partitionValues
        else entry.partitionValues + (BtrScan.FileMetaCol -> file.toString)
      // partition pruning: directory values (and the _file constant) can
      // prove a whole file empty; transform dirs prune source-column
      // predicates through their derived-value bounds
      val prunedByPartition = allFilters.exists(f =>
        PartitionPrune.canSkip(pruneSchema, partValues, f)) ||
        (txParts.nonEmpty && allFilters.exists(f =>
          graft.format.PartitionTransform.canSkip(tableSchema, txParts, partValues, f)))
      if (!prunedByPartition) {
        // per-requiredField constant value (null marker for data cols):
        // partition columns carry the directory value, _file the file path
        val reqPartValues: Array[String] = requiredSchema.fields.map { f =>
          if (fileActive && f.name == BtrScan.FileMetaCol) file.toString
          // non-null placeholder keeps the reader's data-offset indexing
          // aligned; the reader fills ordinals by posCol index, never
          // parsing this value
          else if (posActive && f.name == BtrScan.PosMetaCol) ""
          else if (partCols.contains(f.name)) partValues.getOrElse(f.name, BtrTableMeta.NullPartition)
          else null
        }
        // storage-partitioned joins: the split's partition key, in
        // partCols order, catalyst-typed (HasPartitionKey contract)
        val partKey: InternalRow =
          if (keyFields.isEmpty) null
          else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            keyFields.map { f =>
              if (f.isIdentity)
                BtrScan.partKeyValue(
                  tableSchema.fields(tableSchema.fieldIndex(f.source)).dataType,
                  partValues.getOrElse(f.source, BtrTableMeta.NullPartition))
              else { // bucket ordinal, IntegerType
                val v = partValues.getOrElse(f.dirName, BtrTableMeta.NullPartition)
                if (v == BtrTableMeta.NullPartition) null else Int.box(v.toInt)
              }
            }.toArray)
        val reqTags: Array[Int] = colKinds.map(ci => if (ci < 0) 0 else footer.tagOf(ci))
        val fileRel = if (dvByTarget.isEmpty && dvResolved._2.isEmpty) null else dvRelOf(entry.path)
        val dvBlobs: Array[String] =
          if (dvByTarget.isEmpty) Array.empty
          else dvByTarget.getOrElse(fileRel, Array.empty)
        val dvPrior: Array[String] =
          if (dvResolved._2.isEmpty) Array.empty
          else dvResolved._2.getOrElse(fileRel, Array.empty)
        // chunk skipping and the limit budget, in file order
        val kept = scala.collection.mutable.ArrayBuffer.empty[BtrChunkRange]
        var ordinal = 0L // within-file row ordinal, counted BEFORE skipping
        footer.rowGroups.foreach { rg =>
          val groupBase = ordinal
          ordinal += rg.numRows
          // a row budget exists only without filters, so the two never meet
          if (allFilters.exists(f => ChunkSkip.canSkip(dataSchema, rg, f))) pruned += 1
          else if (rowBudget.forall(n => plannedRows < n)) {
            // schema evolution: columns a pre-widening file lacks plan as
            // the all-null sentinel (offset -1) and synthesize in the reader
            val offsets = dataIdx.map(ci =>
              if (ci < rg.columns.length) rg.columns(ci).offset else -1L)
            val lengths = dataIdx.map(ci =>
              if (ci < rg.columns.length) rg.columns(ci).length else 0)
            kept += BtrChunkRange(rg.numRows, offsets, lengths, groupBase)
            plannedRows += rg.numRows
          }
        }
        // a DV event read emits only masked rows: a file with no new
        // blobs plans nothing at all
        if (kept.nonEmpty && !(dvEmitDeleted && dvBlobs.isEmpty))
          slices += BtrInputPartition(file.toString, kept.toArray, reqPartValues, reqTags,
            partKey, dvBlobs = dvBlobs, fileLen = entry.len,
            dvEmitDeleted = dvEmitDeleted, dvPriorBlobs = dvPrior)
      }
    }
    // seeded chunk sample: keep at most N row groups across the whole
    // plan, chosen by a deterministic shuffle over the (stable) planned
    // order — the sampling-experiment surface, never a DML/CDC shape
    val sampled: Seq[BtrInputPartition] = sampleChunks match {
      case Some(n) =>
        require(!rewriteGroups && !dvEmitDeleted,
          "btr.sampleChunks is a batch SAMPLING read option — row-level " +
            "rewrites and change-feed reads must see every surviving row")
        val flat = groupsOf(slices.toSeq)
        val picked = new scala.util.Random(sampleSeed).shuffle(flat.indices.toVector).take(n)
        fileRuns(picked.sorted.map(flat))
      case None => slices.toSeq
    }
    statsPruned = pruned
    if (partCols.isEmpty) balancedShares(sampled)
    else packSmallSplits(sampled.flatMap(splitFile).toArray)
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    BtrScanMetrics.scanMetrics

  /** Planning counts of the final planning (Spark asks after runtime
    * filtering, once per scan node).
    */
  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    if (planned == null) return Array.empty // never planned: nothing to report
    val groups = planned.iterator.map {
      case p: BtrPackedInputPartition => p.slices.iterator.map(_.groups.length.toLong).sum
      case p: BtrInputPartition => p.groups.length.toLong
      case _ => 0L
    }.sum
    Array(
      BtrScanMetrics.value(BtrScanMetrics.PlannedGroups, groups),
      BtrScanMetrics.value(BtrScanMetrics.StatsPrunedGroups, statsPruned),
      BtrScanMetrics.value(BtrScanMetrics.FooterReads, discoveredAndReads._2.toLong))
  }

  /** Target tasks per wave: `btr.splitParallelism`, else the session's
    * default parallelism (0 when no session is active).
    */
  private def splitWant: Int =
    if (splitParallelism > 0) splitParallelism
    else {
      try org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
      catch { case _: Throwable => 0 }
    }

  /** An unpartitioned scan's surviving row groups, in file order, cut into
    * `n` contiguous shares of equal projected compressed bytes, with
    * `n = min(groups, P × ceil(bytes / (P × maxSplitBytes)))` and `P` =
    * [[splitWant]]: every wave of tasks fills every core, and no task is
    * left for a second, mostly idle wave. A share end lands where the
    * running byte total comes closest to its even cut, so shares differ
    * by about one row group. A share that crosses files is a
    * [[BtrPackedInputPartition]] of per-file slices, each keeping its
    * file's `_file`/`_pos`, deletion vectors and physical tags. Each
    * group weighs one byte more than its chunks, so a scan that projects
    * no column bytes (`count(*)`) cuts by group count.
    */
  private def balancedShares(files: Seq[BtrInputPartition]): Array[InputPartition] = {
    val groups = groupsOf(files)
    if (groups.isEmpty) return Array.empty
    val bytes = groups.map(_._2.lengths.iterator.map(_.toLong).sum + 1L)
    val total = bytes.sum
    val p = math.max(1, splitWant)
    val waves = math.ceil(total.toDouble / p / math.max(1L, splitBytes))
    val n = math.min(groups.length.toDouble, p * waves).toInt
    val shares = new Array[InputPartition](n)
    var end = 0
    var prefix = 0L
    var k = 1
    while (k <= n) {
      val start = end
      if (k == n) end = groups.length
      else {
        // at least one group per share, and one left for each share after
        val cut = total.toDouble * k / n
        val maxEnd = groups.length - (n - k)
        prefix += bytes(end)
        end += 1
        while (end < maxEnd && math.abs(prefix + bytes(end) - cut) < math.abs(prefix - cut)) {
          prefix += bytes(end)
          end += 1
        }
      }
      shares(k - 1) = fileRuns(groups.slice(start, end)) match {
        case Seq(one) => one
        case perFile => BtrPackedInputPartition(perFile.toArray)
      }
      k += 1
    }
    shares
  }

  /** Every planned row group with the file slice it came from, in order. */
  private def groupsOf(files: Seq[BtrInputPartition])
      : IndexedSeq[(BtrInputPartition, BtrChunkRange)] =
    files.iterator.flatMap(f => f.groups.iterator.map(g => (f, g))).toIndexedSeq

  /** Consecutive groups of one file become one slice of that file. */
  private def fileRuns(groups: IndexedSeq[(BtrInputPartition, BtrChunkRange)])
      : Seq[BtrInputPartition] = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[BtrInputPartition]
    var i = 0
    while (i < groups.length) {
      val f = groups(i)._1
      var j = i
      while (j < groups.length && (groups(j)._1 eq f)) j += 1
      runs += f.copy(groups = groups.slice(i, j).map(_._2).toArray)
      i = j
    }
    runs.toSeq
  }

  /** A partitioned table's file in ~splitBytes splits at row-group grain;
    * a split never crosses files, so each carries one partition key.
    */
  private def splitFile(f: BtrInputPartition): Seq[BtrInputPartition] = {
    val splits = scala.collection.mutable.ArrayBuffer.empty[BtrInputPartition]
    var from = 0
    var bytes = 0L
    var i = 0
    while (i < f.groups.length) {
      bytes += f.groups(i).lengths.iterator.map(_.toLong).sum
      i += 1
      if (bytes >= splitBytes || i == f.groups.length) {
        splits += f.copy(groups = f.groups.slice(from, i))
        from = i
        bytes = 0L
      }
    }
    splits.toSeq
  }

  /** Pack many small per-file splits into ~splitBytes tasks (each slice
    * charged an open-cost floor, like Spark's openCostInBytes), engaging
    * only when the split count is large enough for per-task scheduler
    * overhead to dominate — a 720-directory hour-partitioned table scans
    * in a handful of tasks instead of 720. Skipped whenever key-grouped
    * planning may consume the splits (bucketing conf on + partitioned):
    * grouping and the reported partition-key ordering require per-key
    * splits, and a packed split spans keys in directory order, which is
    * NOT value order. Row-level rewrites pack too — their file set is
    * recorded at classification, not from the splits.
    */
  private def packSmallSplits(raw: Array[InputPartition]): Array[InputPartition] = {
    val keyGrouped = keyFields.nonEmpty &&
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (keyGrouped || raw.length <= BtrScan.PackMinSplits) return raw
    val openCost = 4L * 1024 * 1024
    def sizeOf(p: BtrInputPartition): Long =
      p.groups.iterator.map(_.lengths.iterator.map(_.toLong).sum).sum + openCost
    // equal-share packing: aim at total-work/parallelism per task (work =
    // bytes + per-file open cost), never below splitBytes — packing tiny
    // files toward a raw 128 MB would re-create the parallelism floor for
    // many-small-file tables (1000×1 MB → 8 tasks on 32 cores)
    val want = splitWant
    val totalWork = raw.iterator.map {
      case p: BtrInputPartition => sizeOf(p)
      case _ => 0L
    }.sum
    val target = if (want > 1) math.max(splitBytes, totalWork / want) else splitBytes
    val packed = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var cur = scala.collection.mutable.ArrayBuffer.empty[BtrInputPartition]
    var bytes = 0L
    def flushPack(): Unit = {
      if (cur.length == 1) packed += cur.head
      else if (cur.nonEmpty) packed += BtrPackedInputPartition(cur.toArray)
      cur = scala.collection.mutable.ArrayBuffer.empty[BtrInputPartition]
      bytes = 0L
    }
    raw.foreach {
      case p: BtrInputPartition =>
        val sz = sizeOf(p)
        if (bytes > 0 && bytes + sz > target) flushPack()
        cur += p
        bytes += sz
      case other => flushPack(); packed += other
    }
    flushPack()
    packed.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BtrReaderFactory(requiredSchema, filters ++ runtimeFilters,
      fullStructs = BtrScan.fullStructsOf(dataSchema),
      posCol =
        if (BtrScan.posColActive(tableSchema))
          requiredSchema.fieldNames.indexOf(BtrScan.PosMetaCol)
        else -1)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(snapshotVersion.isEmpty,
      "btr: streaming reads follow the live table; a VERSION/TIMESTAMP AS OF " +
        "pinned snapshot cannot be streamed")
    require(sampleChunks.isEmpty,
      "btr.sampleChunks is a batch SAMPLING option — a stream must serve " +
        "every committed row exactly once")
    if (readChanges)
      new BtrCdcMicroBatchStream(path, tableSchema, requiredSchema, partCols, startingVersion,
        maxFilesPerTrigger, startingTimestampMicros)
    else {
      // honor btr.startingTimestamp on the plain stream too: resolve it to
      // the version at-or-before the instant and seed exactly like
      // btr.startingVersion — silently starting from latest would drop the
      // requested history on the floor
      require(startingVersion.isEmpty || startingTimestampMicros.isEmpty,
        "btr: specify either btr.startingVersion or btr.startingTimestamp, not both")
      val sv = startingTimestampMicros match {
        case Some(micros) =>
          val dir = new Path(path)
          val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
          val root = fs.makeQualified(dir)
          Some(BtrLog.versionAtOrBefore(fs, root, micros / 1000L).toString)
        case None => startingVersion
      }
      new BtrMicroBatchStream(path, tableSchema, requiredSchema, partCols, maxFilesPerTrigger,
        checkpointLocation, sv)
    }
  }
}

/** Bounded-concurrency driver-side footer fetch for scan planning.
  * `invokeAll` preserves input order and surfaces the first failure on
  * `get()`; threads are daemons so a failed planning never pins the JVM.
  * The read function is injectable so specs can observe concurrency
  * without a custom Hadoop FileSystem.
  */
object BtrFooters {
  /** Concurrent footer tail-reads: enough to hide per-file round-trip
    * latency on an object store, small enough not to starve the driver.
    */
  val MaxConcurrency = 16

  def readAll[T](entries: Array[BtrTableMeta.DataFileEntry])(
      read: BtrTableMeta.DataFileEntry => T): Array[(BtrTableMeta.DataFileEntry, T)] = {
    if (entries.length <= 1) return entries.map(e => (e, read(e)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(MaxConcurrency, entries.length),
      (r: Runnable) => { val t = new Thread(r, "btr-footer-read"); t.setDaemon(true); t })
    try {
      val tasks: java.util.List[java.util.concurrent.Callable[(BtrTableMeta.DataFileEntry, T)]] =
        java.util.Arrays.asList(entries.map { e =>
          new java.util.concurrent.Callable[(BtrTableMeta.DataFileEntry, T)] {
            override def call(): (BtrTableMeta.DataFileEntry, T) = (e, read(e))
          }
        }: _*)
      val futures = pool.invokeAll(tasks)
      val out = new Array[(BtrTableMeta.DataFileEntry, T)](entries.length)
      var i = 0
      while (i < entries.length) {
        out(i) = try futures.get(i).get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        i += 1
      }
      out
    } finally pool.shutdownNow()
  }

  /** Footers for `entries`, served from the table's footer-index sidecar
    * when it covers them (one sequential file read for the whole table);
    * uncovered files fall back to concurrent tail-reads. This is what
    * keeps planning O(1) metadata requests on a fully-indexed table.
    */
  def readAllIndexed(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      entries: Array[BtrTableMeta.DataFileEntry]
  ): Array[(BtrTableMeta.DataFileEntry, BtrFile.Footer)] = readCounted(fs, root, entries)._1

  /** [[readAllIndexed]] with the number of footers it tail-read. */
  def readCounted(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      entries: Array[BtrTableMeta.DataFileEntry]
  ): (Array[(BtrTableMeta.DataFileEntry, BtrFile.Footer)], Int) = {
    if (entries.isEmpty) return (Array.empty, 0)
    val cached = BtrFooterIndex.read(fs, root)
    if (cached.isEmpty)
      return (readAll(entries)(e => BtrFile.readFooter(fs, e.path, e.len)), entries.length)
    val qualified = fs.makeQualified(root)
    def key(e: BtrTableMeta.DataFileEntry) = BtrFooterIndex.keyOf(qualified, e)
    val uncovered = entries.count(e => !cached.contains(key(e)))
    if (uncovered == 0)
      (entries.map(e => (e, cached(key(e)))), 0)
    else
      (readAll(entries)(e =>
        cached.getOrElse(key(e), BtrFile.readFooter(fs, e.path, e.len))), uncovered)
  }

  /** Rebuild the footer-index sidecar from the current listing, reusing
    * still-valid entries of the previous index (only new files get a
    * tail-read). Best-effort: failures must never fail the commit that
    * triggered the refresh.
    */
  def refreshIndex(fs: org.apache.hadoop.fs.FileSystem, root: Path): Unit =
    try {
      val qualified = fs.makeQualified(root)
      val entries = BtrTableMeta.listDataFilesWithPartitions(fs, qualified)
      val all = readAllIndexed(fs, qualified, entries)
      BtrFooterIndex.write(fs, qualified, all.map { case (e, f) =>
        BtrFooterIndex.Entry(BtrFooterIndex.relPath(qualified, e.path), e.len, e.modTime, f)
      }.toSeq)
    } catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"btr footer index refresh failed for $root (scans fall back to tail-reads)", e)
    }
}

/** File-based micro-batch streaming source: each trigger picks up data
  * files that appeared since the last committed offset (the btr analog of
  * Spark's FileStreamSource). Batch membership is IDENTITY-based — sets
  * of table-root-relative file names — never a positional index into a
  * listing: a new file may sort anywhere (batch `part-00000-…` next to
  * epoch `part-e000001-…`, a new partition directory), so an index range
  * would re-emit old files and silently skip the inserted one.
  *
  * Offsets themselves are tiny batch ids; each batch's admitted file set
  * is recorded in a side log under the source's checkpoint directory
  * (`btr-file-log/<batchId>`, written atomically before the offset is
  * returned — the FileStreamSource design). Spark's offset log therefore
  * stays O(1) per batch and total checkpoint bytes stay O(files), instead
  * of rewriting the whole seen-set into every offset. On recovery the
  * seen-set rebuilds from entries up to the committed start; orphan
  * entries beyond it (a crash between our log write and Spark's) are
  * dropped so their files are re-admitted exactly once.
  */
class BtrMicroBatchStream(
    path: String,
    tableSchema: StructType,
    requiredSchema: StructType,
    partCols: Seq[String],
    maxFilesPerTrigger: Option[Int] = None,
    checkpointLocation: String = "",
    startingVersion: Option[String] = None
) extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private val dataSchema: StructType =
    if (partCols.isEmpty) tableSchema
    else StructType(tableSchema.fields.filterNot(f => partCols.contains(f.name)))

  case class LogOffset(batchId: Long) extends Offset {
    override def json(): String = batchId.toString
  }

  require(checkpointLocation.nonEmpty, "btr streaming source needs a checkpoint location")
  private val logDir = new Path(checkpointLocation, "btr-file-log")
  private def logFs = logDir.getFileSystem(BtrTableMeta.hadoopConf())

  private def entryPath(id: Long): Path = new Path(logDir, id.toString)
  private def snapPath(id: Long): Path = new Path(logDir, s"$id.snap")
  // seen-only entries: files proven already-emitted through a compaction
  // swap (finals whose sources were all admitted). They join the seen-set
  // on rebuild but are NEVER planned — their rows already flowed through
  // their sources.
  private def seenPath(id: Long): Path = new Path(logDir, s"$id.x")

  private def writeLogFile(target: Path, files: Seq[String]): Unit = {
    val fs = logFs
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    out.write(BtrJson.names(files).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    fs.delete(target, false) // a retried trigger rewrites its entry
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"btr streaming: cannot write file-log entry $target")
  }

  private def writeEntry(id: Long, files: Seq[String]): Unit =
    writeLogFile(entryPath(id), files)

  private def readLogFile(p: Path): Seq[String] =
    BtrJson.parseNames(BtrJson.readFile(logFs, p))

  private def readEntry(id: Long): Seq[String] = readLogFile(entryPath(id))

  private def logNames(): Seq[String] = {
    val fs = logFs
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq.map(_.getPath.getName).filterNot(_.startsWith("."))
  }

  private def entryIds(): Seq[Long] =
    logNames().flatMap(n => scala.util.Try(n.toLong).toOption).sorted

  private def snapIds(): Seq[Long] =
    logNames().filter(_.endsWith(".snap"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".snap").toLong).toOption).sorted

  private def seenIds(): Seq[Long] =
    logNames().filter(_.endsWith(".x"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".x").toLong).toOption).sorted

  // seen-set state, rebuilt from the log on first use / recovery
  private var seen: Set[String] = _
  private var seenThroughId = Long.MinValue

  /** Align the in-memory seen-set with the log as of startId: start from
    * the newest snapshot at or below it (committed batches fold into
    * snapshots, see [[commit]]), add the loose entries in (snapshot,
    * startId], and drop orphan entries beyond it (crash between our log
    * write and Spark's offset log) so their files are re-admitted.
    */
  private def ensureInit(startId: Long): Unit = {
    if (seen == null || seenThroughId != startId) {
      val ids = entryIds()
      ids.filter(_ > startId).foreach(id => logFs.delete(entryPath(id), false))
      seenIds().filter(_ > startId).foreach(id => logFs.delete(seenPath(id), false))
      val base = snapIds().filter(_ <= startId).lastOption
      val baseFiles = base.map(id => readLogFile(snapPath(id))).getOrElse(Seq.empty)
      val lo = base.getOrElse(Long.MinValue)
      seen = (baseFiles ++ ids.filter(id => id > lo && id <= startId).flatMap(readEntry) ++
        // .x seen-only entries include id == lo: a compaction AFTER the
        // lo snapshot was written records seenPath(lo) — strict > would
        // drop it here and the fold below would never pick it up either,
        // so a restart would re-admit the merged file (duplicate rows).
        // The union is a set, so re-reading already-folded content is free.
        seenIds().filter(id => id >= lo && id <= startId).flatMap(id => readLogFile(seenPath(id)))).toSet
      seenThroughId = startId
    }
  }

  private def tableRootPrefix(dir: Path, fs: org.apache.hadoop.fs.FileSystem): String =
    fs.makeQualified(dir).toUri.getPath + "/"

  /** Map completed compaction swaps over the seen-set: a swap group whose
    * sources were ALL admitted makes its finals already-seen (their rows
    * are exactly the sources' rows, re-packed by [[BtrCompact]]); a group
    * none of whose sources were admitted stays inert — its finals are new
    * files like any other. A PARTIAL overlap whose unemitted sources are
    * no longer listed is unrecoverable at file granularity, so it fails
    * loudly instead of silently duplicating or dropping rows. Runs to a
    * fixpoint so chained swaps (compactions of compactions between two
    * polls) resolve in one pass.
    */
  private def deriveSwappedSeen(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, listed: Set[String]): Set[String] = {
    val root = fs.makeQualified(dir)
    val groups =
      (BtrTableMeta.readSwapJournals(fs, root) ++ BtrTableMeta.readDoneSwapJournals(fs, root))
        .flatMap(_._2)
    if (groups.isEmpty) return Set.empty
    def rel(d: String, n: String): String = if (d.isEmpty) n else s"$d/$n"
    var cur = seen
    val added = scala.collection.mutable.HashSet.empty[String]
    var changed = true
    while (changed) {
      changed = false
      groups.foreach { g =>
        val srcs = g.sources.map(rel(g.dir, _))
        val nSeen = srcs.count(cur)
        if (nSeen == srcs.length) {
          val fresh = g.finals.map(rel(g.dir, _)).filterNot(cur)
          if (fresh.nonEmpty) {
            cur = cur ++ fresh
            added ++= fresh
            changed = true
          }
        } else if (nSeen > 0) {
          val missing = srcs.filterNot(cur).filterNot(listed)
          if (missing.nonEmpty)
            throw new IllegalStateException(
              "btr streaming source: a compaction replaced files this stream had only " +
                s"partially emitted (unemitted: ${missing.mkString(", ")}). Their rows now " +
                "exist only inside merged files that also hold already-emitted rows, so " +
                "exactly-once cannot be preserved at file granularity. Compact only after " +
                "consumers have caught up, or restart the stream from a fresh checkpoint.")
        }
      }
    }
    added.toSet
  }

  // latest listing, shared between latestOffset and the immediately
  // following planInputPartitions so each micro-batch costs ONE directory
  // walk, not two (files are immutable, so a cached entry never goes
  // stale; planInputPartitions re-lists only if a requested name is
  // missing from the cache — e.g. after recovery from a checkpoint)
  @volatile private var cachedListing: Array[BtrTableMeta.DataFileEntry] = Array.empty

  private def listing: Array[BtrTableMeta.DataFileEntry] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val l = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
    cachedListing = l
    l
  }

  private def relName(entry: BtrTableMeta.DataFileEntry, prefix: String): String = {
    val p = entry.path.toUri.getPath
    if (p.startsWith(prefix)) p.substring(prefix.length) else p
  }

  /** Fresh-checkpoint start: with `btr.startingVersion`, the snapshot's
    * files seed the seen-set as a persisted seen-only entry (`-1.x`), so
    * the stream emits only files committed AFTER that version — and
    * recovery rebuilds the same seed from the checkpoint, never
    * re-consulting the (pruned-over-time) snapshot log. Spark calls
    * initialOffset only when the offset log is empty, so an existing
    * checkpoint's history always wins over the option.
    */
  override def initialOffset(): Offset = {
    startingVersion.foreach { v =>
      if (!logFs.exists(seenPath(-1L))) {
        val dir = new Path(path)
        val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
        val root = fs.makeQualified(dir)
        val resolved =
          if (v == "latest") BtrLog.latestVersion(fs, root).getOrElse(
            throw new IllegalArgumentException(
              s"btr.startingVersion=latest: no snapshot log at $root"))
          else v.toLong
        val snap = BtrLog.resolveSnapshot(fs, root, resolved)
        writeLogFile(seenPath(-1L), snap.files)
      }
    }
    LogOffset(-1L)
  }

  // SupportsAdmissionControl drives batch sizing; the legacy no-arg
  // variant must not be called once the control interface is implemented
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startId = start.asInstanceOf[LogOffset].batchId
    ensureInit(startId)
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val prefix = tableRootPrefix(dir, fs)
    val listed = listing.map(relName(_, prefix))
    // resolve compaction swaps BEFORE admission: finals whose sources were
    // all emitted are already-seen, not new data. Persisted as a seen-only
    // .x entry so recovery doesn't depend on the (vacuumable) markers.
    val derived = deriveSwappedSeen(fs, dir, listed.toSet)
    if (derived.nonEmpty) {
      val existing =
        if (logFs.exists(seenPath(startId))) readLogFile(seenPath(startId)) else Seq.empty
      writeLogFile(seenPath(startId), (existing ++ derived).distinct)
      seen = seen ++ derived
    }
    // listing order (sorted) makes the cap deterministic
    val newly = listed.filterNot(seen)
    val admitted = limit match {
      case mf: ReadMaxFiles => newly.take(mf.maxFiles())
      case _ => newly
    }
    if (admitted.isEmpty) start
    else {
      val id = startId + 1
      writeEntry(id, admitted.toSeq)
      seen = seen ++ admitted
      seenThroughId = id
      LogOffset(id)
    }
  }

  override def deserializeOffset(json: String): Offset = {
    require(!json.trim.startsWith("["),
      "btr streaming: this checkpoint was written by an older offset format; restart with a fresh checkpoint")
    LogOffset(json.trim.toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogOffset].batchId
    val e = end.asInstanceOf[LogOffset].batchId
    val newNames: Set[String] = ((s + 1) to e).flatMap(readEntry).toSet
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val prefix = tableRootPrefix(dir, fs)
    val fileActive = BtrScan.fileColActive(tableSchema)
    val colKinds = requiredSchema.fields.map { f =>
      if ((fileActive && f.name == BtrScan.FileMetaCol) || partCols.contains(f.name)) -1
      else dataSchema.fieldIndex(f.name)
    }
    val dataIdx = colKinds.filter(_ >= 0)
    var current = cachedListing.filter(en => newNames.contains(relName(en, prefix)))
    if (current.length != newNames.size) {
      // cache doesn't cover the batch (first call after recovery) — re-list
      current = listing.filter(en => newNames.contains(relName(en, prefix)))
    }
    if (current.length != newNames.size) {
      val missing = newNames -- current.map(relName(_, prefix))
      throw new IllegalStateException(
        s"btr streaming source: committed offset references files no longer present " +
          s"under $path (data files must be immutable): ${missing.mkString(", ")}")
    }
    // deletion vectors: the append stream emits a file's CURRENTLY
    // visible rows when it first appears (masks as of now); deletes that
    // land after a file streamed are CDC-stream territory, not re-emitted
    val dvs: Map[String, Array[String]] = {
      import graft.format.DeletionVector
      if (!BtrTableMeta.readDeletionVectors(fs, dir)) Map.empty
      else {
        val root = fs.makeQualified(dir)
        BtrLog.latestVersion(fs, root) match {
          case None => Map.empty
          case Some(v) =>
            BtrLog.resolveSnapshot(fs, root, v).files
              .filter(DeletionVector.isDvRel)
              .flatMap(rel => DeletionVector.targetOf(rel)
                .map(t => t -> new Path(root, rel).toString))
              .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
        }
      }
    }
    BtrFooters.readAllIndexed(fs, dir, current).map {
      case (entry, footer) =>
      val needsConsts = partCols.nonEmpty ||
        (fileActive && requiredSchema.fieldNames.contains(BtrScan.FileMetaCol))
      val reqPartValues: Array[String] =
        if (!needsConsts) Array.empty
        else requiredSchema.fields.map { f =>
          if (fileActive && f.name == BtrScan.FileMetaCol) entry.path.toString
          else if (partCols.contains(f.name))
            entry.partitionValues.getOrElse(f.name, BtrTableMeta.NullPartition)
          else null
        }
      var ordinal = 0L
      val groups = footer.rowGroups.map { rg =>
        val base = ordinal
        ordinal += rg.numRows
        BtrChunkRange(rg.numRows,
          dataIdx.map(ci => if (ci < rg.columns.length) rg.columns(ci).offset else -1L),
          dataIdx.map(ci => if (ci < rg.columns.length) rg.columns(ci).length else 0),
          base)
      }
      val reqTags: Array[Int] = colKinds.map(ci => if (ci < 0) 0 else footer.tagOf(ci))
      BtrInputPartition(entry.path.toString, groups, reqPartValues, reqTags,
        dvBlobs = dvs.getOrElse(relName(entry, prefix), Array.empty),
        fileLen = entry.len): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BtrReaderFactory(requiredSchema,
      fullStructs = BtrScan.fullStructsOf(tableSchema))

  /** Fold committed per-batch entries into a snapshot once enough
    * accumulate (FileStreamSourceLog's compaction): entries at or below a
    * committed offset are only ever read to rebuild the seen-set — never
    * replayed — so they can collapse into one `<id>.snap` union file.
    * Keeps checkpoint file count O(compact interval), not O(batches), on
    * a long-running stream. Crash-safe: the snapshot publishes atomically
    * before superseded files are deleted, and a leftover subsumed entry
    * merely unions in files the snapshot already holds.
    */
  override def commit(end: Offset): Unit = {
    val endId = end.asInstanceOf[LogOffset].batchId
    val loose = entryIds().filter(_ <= endId)
    if (loose.length >= BtrMicroBatchStream.LogCompactInterval) {
      val snaps = snapIds()
      val base = snaps.filter(_ <= endId).lastOption
      val lo = base.getOrElse(Long.MinValue)
      // .x seen-only entries fold in too (id == lo included: one may be
      // written after the lo snapshot): the snapshot is only ever a
      // seen-set rebuild base, never planned, so the union is sound
      val looseSeen = seenIds().filter(id => id >= lo && id <= endId)
      val files = (base.map(id => readLogFile(snapPath(id))).getOrElse(Seq.empty) ++
        loose.filter(_ > lo).flatMap(readEntry) ++
        looseSeen.flatMap(id => readLogFile(seenPath(id)))).distinct
      writeLogFile(snapPath(endId), files)
      snaps.filter(_ < endId).foreach(id => logFs.delete(snapPath(id), false))
      loose.foreach(id => logFs.delete(entryPath(id), false))
      looseSeen.foreach(id => logFs.delete(seenPath(id), false))
    }
  }

  override def stop(): Unit = ()
}

object BtrMicroBatchStream {
  /** Commit folds the file log into a snapshot after this many loose
    * per-batch entries (Spark's own FileStreamSourceLog default interval).
    */
  val LogCompactInterval = 10
}

/** Filter evaluation against hive-style partition directory values:
  * returns true only when the filter PROVABLY excludes the partition.
  */
object PartitionPrune {
  val NullPart: String = BtrTableMeta.NullPartition

  /** True only when the filter PROVABLY excludes the partition: its
    * exact evaluation ([[holds]]) is known to match no row.
    */
  def canSkip(schema: StructType, values: Map[String, String], f: Filter): Boolean =
    holds(schema, values, f).contains(false)

  /** EXACT evaluation of a filter against one partition's directory
    * values: Some(result) when the partition values alone decide the
    * predicate for every row of the file, None when they don't (data
    * column involved, unparseable value, unsupported shape). Unlike
    * [[canSkip]] (one-sided proof of emptiness) this is two-sided, so
    * metadata DELETE can tell "whole file matches" from "no row matches".
    */
  def holds(schema: StructType, values: Map[String, String], f: Filter): Option[Boolean] = {
    def dtOf(a: String): Option[DataType] = schema.fields.find(_.name == a).map(_.dataType)
    def isPart(a: String): Boolean = values.contains(a)
    def isNullPart(a: String): Boolean = values(a) == NullPart
    // -1/0/1 comparison of the stored value with the literal, None when
    // not comparable (null partition, type mismatch, parse failure)
    def cmp(a: String, lit: Any): Option[Int] = {
      val s = values.get(a) match {
        case Some(v) if v != NullPart => v
        case _ => return None
      }
      try dtOf(a).flatMap {
        case IntegerType | LongType | ShortType | ByteType =>
          val l = lit match {
            case i: Int => i.toLong
            case l: Long => l
            case sh: Short => sh.toLong
            case b: Byte => b.toLong
            case _ => return None
          }
          Some(java.lang.Long.compare(s.toLong, l))
        case DateType =>
          val epoch = lit match {
            case d: java.sql.Date => d.toLocalDate.toEpochDay
            case d: java.time.LocalDate => d.toEpochDay
            case _ => return None
          }
          Some(java.lang.Long.compare(java.time.LocalDate.parse(s).toEpochDay, epoch))
        case TimestampType =>
          BtrPartTime.literalMicros(lit).map(m =>
            java.lang.Long.compare(BtrPartTime.instantMicros(s), m))
        case TimestampNTZType =>
          BtrPartTime.literalMicros(lit).map(m =>
            java.lang.Long.compare(BtrPartTime.localMicros(s), m))
        case StringType =>
          lit match {
            case ls: String =>
              // UTF-8 binary order — the ordering Spark's UTF8String
              // comparisons use (Java's compareTo diverges on
              // supplementary characters)
              Some(java.util.Arrays.compareUnsigned(
                s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                ls.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            case _ => None
          }
        case BooleanType =>
          lit match {
            case b: Boolean => Some(java.lang.Boolean.compare(s.toBoolean, b))
            case _ => None
          }
        case _ => None
      } catch { case _: Exception => None }
    }

    f match {
      case EqualTo(a, _) if isPart(a) && isNullPart(a) => Some(false)
      case EqualTo(a, v) if isPart(a) => cmp(a, v).map(_ == 0)
      case EqualNullSafe(a, null) if isPart(a) => Some(isNullPart(a))
      case EqualNullSafe(a, _) if isPart(a) && isNullPart(a) => Some(false)
      case EqualNullSafe(a, v) if isPart(a) => cmp(a, v).map(_ == 0)
      case In(a, _) if isPart(a) && isNullPart(a) => Some(false)
      case In(a, vs) if isPart(a) =>
        val cs = vs.toSeq.map(v => cmp(a, v))
        if (cs.exists(_.contains(0))) Some(true)
        else if (cs.forall(_.isDefined)) Some(false)
        else None
      case GreaterThan(a, _) if isPart(a) && isNullPart(a) => Some(false)
      case GreaterThan(a, v) if isPart(a) => cmp(a, v).map(_ > 0)
      case GreaterThanOrEqual(a, _) if isPart(a) && isNullPart(a) => Some(false)
      case GreaterThanOrEqual(a, v) if isPart(a) => cmp(a, v).map(_ >= 0)
      case LessThan(a, _) if isPart(a) && isNullPart(a) => Some(false)
      case LessThan(a, v) if isPart(a) => cmp(a, v).map(_ < 0)
      case LessThanOrEqual(a, _) if isPart(a) && isNullPart(a) => Some(false)
      case LessThanOrEqual(a, v) if isPart(a) => cmp(a, v).map(_ <= 0)
      case IsNull(a) if isPart(a) => Some(isNullPart(a))
      case IsNotNull(a) if isPart(a) => Some(!isNullPart(a))
      case StringStartsWith(a, p) if isPart(a) =>
        if (isNullPart(a)) Some(false)
        else if (dtOf(a).contains(StringType)) Some(values(a).startsWith(p))
        else None
      case And(l, r) =>
        (holds(schema, values, l), holds(schema, values, r)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (holds(schema, values, l), holds(schema, values, r)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      // NOT: De-Morgan composites down to leaves; a leaf negates its own
      // comparison. Three-valued logic matters — a null partition value
      // makes `NOT (k = 'a')` NULL (row NOT matched), never true, so
      // Some(false) here is the row-match answer, not the logical negation
      case Not(inner) => inner match {
        case And(l, r) => holds(schema, values, Or(Not(l), Not(r)))
        case Or(l, r) => holds(schema, values, And(Not(l), Not(r)))
        case Not(g) => holds(schema, values, g)
        case IsNull(a) if isPart(a) => Some(!isNullPart(a))
        case IsNotNull(a) if isPart(a) => Some(isNullPart(a))
        // <=> never evaluates to NULL, so its negation is the complement
        case EqualNullSafe(a, null) if isPart(a) => Some(!isNullPart(a))
        case EqualNullSafe(a, v) if isPart(a) =>
          if (isNullPart(a)) Some(true) else cmp(a, v).map(_ != 0)
        case _: AlwaysTrue => Some(false)
        case _: AlwaysFalse => Some(true)
        // value comparisons on a NULL partition evaluate to NULL → the
        // negation is NOT matched either → Some(false)
        case EqualTo(a, v) if isPart(a) =>
          if (isNullPart(a)) Some(false) else cmp(a, v).map(_ != 0)
        case GreaterThan(a, v) if isPart(a) =>
          if (isNullPart(a)) Some(false) else cmp(a, v).map(_ <= 0)
        case GreaterThanOrEqual(a, v) if isPart(a) =>
          if (isNullPart(a)) Some(false) else cmp(a, v).map(_ < 0)
        case LessThan(a, v) if isPart(a) =>
          if (isNullPart(a)) Some(false) else cmp(a, v).map(_ >= 0)
        case LessThanOrEqual(a, v) if isPart(a) =>
          if (isNullPart(a)) Some(false) else cmp(a, v).map(_ > 0)
        case In(a, vs) if isPart(a) =>
          if (isNullPart(a)) Some(false)
          else {
            val cs = vs.toSeq.map(v => cmp(a, v))
            if (cs.exists(_.contains(0))) Some(false)
            else if (cs.forall(_.isDefined)) Some(true)
            else None
          }
        case StringStartsWith(a, p) if isPart(a) =>
          if (isNullPart(a)) Some(false)
          else if (dtOf(a).contains(StringType)) Some(!values(a).startsWith(p))
          else None
        case _ => None
      }
      case _: AlwaysTrue => Some(true)
      case _: AlwaysFalse => Some(false)
      case _ => None
    }
  }
}

/** Metadata-only aggregate scan: answers ungrouped, unfiltered
  * COUNT(*)/COUNT(col)/MIN/MAX entirely from row-group footer stats —
  * zero data bytes touched. Files are batched into partitions so footer
  * tail-reads parallelize across tasks; each partition emits one PARTIAL
  * row and Spark's final aggregate merges (the builder reports partial-only
  * pushdown). Double/float min/max are NaN-exact via the footer hasNaN
  * flag: max = NaN when any chunk saw NaN (Spark orders NaN largest), min
  * is NaN only when every value is NaN.
  */
class BtrAggScan(path: String, tableSchema: StructType, agg: aggregate.Aggregation,
    partCols: Seq[String] = Nil, groupCols: Seq[String] = Nil,
    // time travel: aggregate over exactly this snapshot's files (their
    // footers answer for the PINNED state; missing files fail loudly)
    onlyFiles: Option[Set[String]] = None,
    snapshotVersion: Option[Long] = None,
    // snapshot-recorded file lengths (rel → len): detects rel-path reuse
    onlySizes: Map[String, Long] = Map.empty,
    // delete-side change feed: store-first file resolution (see BtrScan)
    preferStoreResolution: Boolean = false)
    extends Scan
    with Batch {

  // captured at planning: under ANSI semantics a sum that overflows must
  // raise ARITHMETIC_OVERFLOW (like the data path) instead of wrapping
  private val ansiMode: Boolean =
    try org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    catch { case _: Throwable => false }

  /** Footer reads per task: small enough to parallelize a 100k-file table
    * across a cluster, large enough that task overhead stays negligible.
    */
  private val FilesPerBatch = 64

  // footer layout excludes partition columns (the builder already
  // restricts pushdown to data columns + count(*))
  private val dataSchema: StructType =
    if (partCols.isEmpty) tableSchema
    else StructType(tableSchema.fields.filterNot(f => partCols.contains(f.name)))

  private def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression): String =
    e.asInstanceOf[org.apache.spark.sql.connector.expressions.NamedReference].fieldNames()(0)

  // (kind, columnIndex into the FOOTER schema):
  // 0=count(*), 1=count(col), 2=min, 3=max, 4=sum
  private val specs: Array[(Int, Int)] = agg.aggregateExpressions().map {
    case _: aggregate.CountStar => (0, -1)
    case c: aggregate.Count => (1, dataSchema.fieldIndex(colNameOf(c.column())))
    case m: aggregate.Min => (2, dataSchema.fieldIndex(colNameOf(m.column())))
    case m: aggregate.Max => (3, dataSchema.fieldIndex(colNameOf(m.column())))
    case s: aggregate.Sum => (4, dataSchema.fieldIndex(colNameOf(s.column())))
    case other => throw new IllegalStateException(s"unsupported pushed agg $other")
  }

  private def groupFields: Array[StructField] =
    groupCols.toArray.map(c => tableSchema.fields(tableSchema.fieldIndex(c)))

  /** Spark's Sum result type: integral → LongType, decimal(p,s) →
    * decimal(min(38, p+10), s) — the partial rows must carry it exactly.
    */
  private def sumType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => LongType
  }

  override def readSchema(): StructType = StructType(groupFields ++ specs.map {
    case (0, _) => StructField("count(*)", LongType, nullable = false)
    case (1, ci) => StructField(s"count(${dataSchema.fields(ci).name})", LongType, nullable = false)
    case (4, ci) =>
      val f = dataSchema.fields(ci)
      StructField(s"sum(${f.name})", sumType(f.dataType), nullable = true)
    case (k, ci) =>
      val f = dataSchema.fields(ci)
      StructField(s"${if (k == 2) "min" else "max"}(${f.name})", f.dataType, nullable = true)
  })

  override def description(): String =
    s"btr $path, metadata-only aggregates: [${agg.aggregateExpressions().mkString(", ")}]" +
      (if (groupCols.nonEmpty) s" group by ${groupCols.mkString(",")}" else "")

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    // footer-index-covered files ship their (serialized) footer inside the
    // partition — those tasks do pure arithmetic, no tail-read; uncovered
    // files keep the per-task tail-read fallback
    val cached = BtrFooterIndex.read(fs, dir)
    val qualified = fs.makeQualified(dir)
    val all = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
    val listed = onlyFiles match {
      case Some(set) =>
        graft.format.BtrRetention.resolveFileSet(fs, qualified, all, set, snapshotVersion, path,
          wantSizes = onlySizes, preferStore = preferStoreResolution)
      case None => all
    }
    val entries = listed.map { e =>
      val body = cached.get(BtrFooterIndex.keyOf(qualified, e))
        .map(BtrFile.footerBodyBytes).orNull
      (e.path.toString,
        groupCols.toArray.map(c => e.partitionValues.getOrElse(c, BtrTableMeta.NullPartition)),
        body)
    }
    entries.grouped(FilesPerBatch)
      .map(b => BtrAggPartition(b.map(_._1), b.map(_._2), b.map(_._3)): InputPartition).toArray
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    BtrScanMetrics.aggMetrics

  override def createReaderFactory(): PartitionReaderFactory = {
    val sp = specs
    val dsch = dataSchema
    val gFields = groupFields
    val ansi = ansiMode
    (partition: InputPartition) =>
      new BtrAggReader(partition.asInstanceOf[BtrAggPartition], dsch, gFields, sp, ansi)
  }
}

/** A batch of files with, per file, its group (partition-dir) values and
  * (when the footer index covered it at planning) the serialized footer
  * body — null means the task tail-reads the file's own footer.
  */
final case class BtrAggPartition(
    files: Array[String],
    groupVals: Array[Array[String]],
    footers: Array[Array[Byte]] = null
) extends InputPartition

class BtrAggReader(
    partition: BtrAggPartition,
    tableSchema: StructType,
    groupFields: Array[StructField],
    specs: Array[(Int, Int)],
    ansiMode: Boolean = false
) extends PartitionReader[InternalRow] {

  /** Per-group-key partial accumulator over footer stats. */
  private final class Acc {
    val n = tableSchema.fields.length
    var rows = 0L
    val nulls = new Array[Long](n)
    val minL = Array.fill(n)(Long.MaxValue)
    val maxL = Array.fill(n)(Long.MinValue)
    val minD = Array.fill(n)(java.lang.Double.MAX_VALUE)
    val maxD = Array.fill(n)(-java.lang.Double.MAX_VALUE)
    val hasStats = new Array[Boolean](n)
    // kind 2 extras: chunk-level NaN presence / any real (non-NaN) value
    val sawNaN = new Array[Boolean](n)
    val sawReal = new Array[Boolean](n)
    // kind 3 extras: exact string min/max accumulated so far (unsigned
    // byte order — UTF8String.compareTo's ordering)
    val minS = new Array[Array[Byte]](n)
    val maxS = new Array[Array[Byte]](n)
    // sum extras: wrapped long accumulation for integral sums (wrap is
    // Spark's LongType semantics and associative), exact BigInteger for
    // decimal sums; sumSaw tracks whether any non-null value contributed
    // (sum over an all-null column is null)
    val sumL = new Array[Long](n)
    val sumBig = Array.fill(n)(java.math.BigInteger.ZERO)
    val sumSaw = new Array[Boolean](n)

    def updMinS(c: Int, v: Array[Byte]): Unit =
      if (minS(c) == null || java.util.Arrays.compareUnsigned(v, minS(c)) < 0) minS(c) = v

    def updMaxS(c: Int, v: Array[Byte]): Unit =
      if (maxS(c) == null || java.util.Arrays.compareUnsigned(v, maxS(c)) > 0) maxS(c) = v
  }

  // which footer columns need an exact MIN / MAX / SUM (vs count-only)
  private val needMin: Set[Int] = specs.collect { case (2, ci) => ci }.toSet
  private val needMax: Set[Int] = specs.collect { case (3, ci) => ci }.toSet
  private val needSum: Set[Int] = specs.collect { case (4, ci) => ci }.toSet

  private var rowsIter: Iterator[InternalRow] = _
  private var current: InternalRow = _
  private var footerReads = 0L

  // same directory-value parse the partition-key and fillConstant paths
  // use; one shared implementation so adding a partition type is one edit
  private def groupValue(dt: DataType, s: String): Any = BtrScan.partKeyValue(dt, s)

  private def compute(): Iterator[InternalRow] = {
    // LinkedHashMap: group order deterministic per batch (Spark's final
    // aggregate regroups anyway)
    val accs = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Acc]
    var f = 0
    while (f < partition.files.length) {
      val p = new Path(partition.files(f))
      val key: Seq[String] =
        if (partition.groupVals.isEmpty) Nil else partition.groupVals(f).toSeq
      val acc = accs.getOrElseUpdate(key, new Acc)
      val fs = p.getFileSystem(BtrTableMeta.hadoopConf())
      val footer =
        if (partition.footers != null && partition.footers(f) != null)
          BtrFile.footerFromBody(partition.footers(f))
        else {
          footerReads += 1
          BtrFile.readFooter(fs, p, fs.getFileStatus(p).getLen)
        }
      // lazily opened only if some string chunk needs a decode fallback
      var dataIn: org.apache.hadoop.fs.FSDataInputStream = null
      try {
        footer.rowGroups.foreach { rg =>
          acc.rows += rg.numRows
          // schema evolution: columns this file predates are all null here
          var miss = rg.columns.length
          while (miss < acc.n) { acc.nulls(miss) += rg.numRows; miss += 1 }
          var c = 0
          while (c < rg.columns.length) {
            val m = rg.columns(c)
            acc.nulls(c) += m.nullCount
            m.statsKind match {
              case 1 =>
                if (m.minLong < acc.minL(c)) acc.minL(c) = m.minLong
                if (m.maxLong > acc.maxL(c)) acc.maxL(c) = m.maxLong
                if (needSum(c) && m.nullCount < rg.numRows) {
                  acc.sumSaw(c) = true
                  // wrapped accumulation is EXACT for non-ANSI long sums
                  // (mod-2^64 arithmetic is associative, so chunk-wise
                  // wrapping equals Spark's row-wise wrapping); under ANSI
                  // an exact BigInteger rides alongside and the emit path
                  // raises ARITHMETIC_OVERFLOW iff the TRUE total exceeds
                  // Long — the one outcome every execution order agrees on
                  acc.sumL(c) += m.sumLong
                  // ANSI long sums and decimal sums both need the EXACT
                  // total: a BigInteger rides alongside the wrapped long
                  if (ansiMode || tableSchema.fields(c).dataType.isInstanceOf[DecimalType]) {
                    if (!m.sumOverflow)
                      acc.sumBig(c) = acc.sumBig(c).add(java.math.BigInteger.valueOf(m.sumLong))
                    else {
                      // the footer's sumLong is exact only mod 2^64 once the
                      // chunk's row-order running sum wrapped — re-sum just
                      // this chunk from a decode (same fallback pattern as
                      // truncated string bounds). Raising here instead would
                      // diverge from the data path for mixed-sign chunks:
                      // Spark's accumulator starts at the preceding partial,
                      // not 0, so its running sum may never wrap where the
                      // chunk-local one did (and vice versa) — only the TRUE
                      // total exceeding Long is order-independent, and the
                      // emit path raises exactly there.
                      if (dataIn == null) dataIn = BtrFs.open(fs, p)
                      val blob = BtrFs.readAt(dataIn, m.offset, m.length)
                      val tag = graft.format.PhysType.of(tableSchema.fields(c).dataType)
                      val dec = ChunkCodec.decode(new graft.format.BufReader(blob), tag, rg.numRows)
                      var i = 0
                      var s = java.math.BigInteger.ZERO
                      while (i < rg.numRows) {
                        if (!dec.hasNulls || !dec.isNull(i))
                          s = s.add(java.math.BigInteger.valueOf(dec.longs(i)))
                        i += 1
                      }
                      acc.sumBig(c) = acc.sumBig(c).add(s)
                    }
                  }
                }
                acc.hasStats(c) = true
              case 2 =>
                if (m.hasNaN) acc.sawNaN(c) = true
                // an all-NaN chunk stores NaN placeholders — Double.compare
                // keeps them out of min/max (and orders -0.0 < 0.0)
                if (!m.minDouble.isNaN) {
                  acc.sawReal(c) = true
                  if (java.lang.Double.compare(m.minDouble, acc.minD(c)) < 0) acc.minD(c) = m.minDouble
                  if (java.lang.Double.compare(m.maxDouble, acc.maxD(c)) > 0) acc.maxD(c) = m.maxDouble
                }
                acc.hasStats(c) = true
              case 3 =>
                // exact bounds feed the accumulator directly; a TRUNCATED
                // bound that's still needed forces a decode of just this
                // column chunk — unless the truncated bound already proves
                // the chunk can't move the accumulated value (minBytes is a
                // valid lower bound, maxBytes a valid upper bound)
                val minPruned = acc.minS(c) != null && m.minBytes != null &&
                  java.util.Arrays.compareUnsigned(m.minBytes, acc.minS(c)) >= 0
                val maxPruned = acc.maxS(c) != null && m.maxBytes != null &&
                  java.util.Arrays.compareUnsigned(m.maxBytes, acc.maxS(c)) <= 0
                val wantMin = needMin(c) && !minPruned
                val wantMax = needMax(c) && !maxPruned
                if ((wantMin && !m.minExact) || (wantMax && !m.maxExact)) {
                  if (dataIn == null) dataIn = BtrFs.open(fs, p)
                  val blob = BtrFs.readAt(dataIn, m.offset, m.length)
                  val tag = graft.format.PhysType.of(tableSchema.fields(c).dataType)
                  val dec = ChunkCodec.decode(new graft.format.BufReader(blob), tag, rg.numRows)
                  var i = 0
                  var off = 0
                  while (i < rg.numRows) {
                    val len = dec.strLens(i)
                    if (!dec.hasNulls || !dec.isNull(i)) {
                      val v = java.util.Arrays.copyOfRange(dec.strBytes, off, off + len)
                      acc.updMinS(c, v)
                      acc.updMaxS(c, v)
                    }
                    off += len
                    i += 1
                  }
                } else {
                  if (wantMin && m.minExact) acc.updMinS(c, m.minBytes)
                  if (wantMax && m.maxExact) acc.updMaxS(c, m.maxBytes)
                }
                acc.hasStats(c) = true
              case _ => ()
            }
            c += 1
          }
        }
      } finally if (dataIn != null) dataIn.close()
      f += 1
    }

    val g = groupFields.length
    accs.iterator.map { case (key, acc) =>
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(g + specs.length)
      var gi = 0
      while (gi < g) {
        row.update(gi, groupValue(groupFields(gi).dataType, key(gi)))
        gi += 1
      }
      var i = 0
      while (i < specs.length) {
        val oi = g + i
        specs(i) match {
          case (0, _) => row.setLong(oi, acc.rows)
          case (1, ci) => row.setLong(oi, acc.rows - acc.nulls(ci))
          case (4, ci) =>
            if (!acc.sumSaw(ci)) row.setNullAt(oi) // sum of all-null is null
            else tableSchema.fields(ci).dataType match {
              case d: DecimalType =>
                val p = math.min(38, d.precision + 10)
                val bd = new java.math.BigDecimal(acc.sumBig(ci), d.scale)
                val dec = org.apache.spark.sql.types.Decimal(bd)
                // past p+10 digits the data path nulls (non-ANSI) or raises
                // (ANSI) the WHOLE sum — but a null PARTIAL would be skipped
                // by the final Sum merge and silently drop this batch from
                // the total, so raise loudly in both modes (reachable only
                // past 10^28; a clear error beats a wrong number)
                if (dec.changePrecision(p, d.scale)) row.update(oi, dec)
                else throw org.apache.spark.sql.graft.ColumnShim.arithmeticOverflow(
                  s"Decimal overflow in pushed SUM (precision $p)",
                  "disable aggregate pushdown for this query")
              case _ =>
                if (ansiMode) {
                  // exact total: fits -> a valid non-throwing execution
                  // order exists, return it; doesn't fit -> every order's
                  // running sum must pass through the overflow
                  try row.setLong(oi, acc.sumBig(ci).longValueExact())
                  catch {
                    case _: ArithmeticException =>
                      // Spark's own ARITHMETIC_OVERFLOW error class, as the
                      // unpushed Sum would raise
                      throw org.apache.spark.sql.graft.ColumnShim.arithmeticOverflow("long overflow")
                  }
                } else row.setLong(oi, acc.sumL(ci))
            }
          case (k, ci) if tableSchema.fields(ci).dataType == StringType =>
            val sv = if (k == 2) acc.minS(ci) else acc.maxS(ci)
            if (sv == null) row.setNullAt(oi)
            else row.update(oi, org.apache.spark.unsafe.types.UTF8String.fromBytes(sv))
          case (k, ci) =>
            if (!acc.hasStats(ci)) row.setNullAt(oi)
            else {
              val dt = tableSchema.fields(ci).dataType
              val lv = if (k == 2) acc.minL(ci) else acc.maxL(ci)
              // Spark orders NaN above every value: max is NaN as soon as
              // any chunk saw one; min is NaN only when NO chunk held a
              // real value
              val dv =
                if (k == 3 && acc.sawNaN(ci)) java.lang.Double.NaN
                else if (!acc.sawReal(ci)) java.lang.Double.NaN
                else if (k == 2) acc.minD(ci)
                else acc.maxD(ci)
              dt match {
                case IntegerType | DateType => row.setInt(oi, lv.toInt)
                case ShortType => row.setShort(oi, lv.toShort)
                case ByteType => row.setByte(oi, lv.toByte)
                case LongType | TimestampType | TimestampNTZType => row.setLong(oi, lv)
                case BooleanType => row.setBoolean(oi, lv != 0L)
                case DoubleType => row.setDouble(oi, dv)
                case FloatType => row.setFloat(oi, dv.toFloat)
                case d: DecimalType =>
                  row.update(oi, org.apache.spark.sql.types.Decimal(lv, d.precision, d.scale))
                case other => throw new IllegalStateException(s"agg pushdown: $other")
              }
            }
        }
        i += 1
      }
      row: InternalRow
    }
  }

  override def next(): Boolean = {
    if (rowsIter == null) rowsIter = compute()
    if (rowsIter.hasNext) { current = rowsIter.next(); true } else false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(BtrScanMetrics.value(BtrScanMetrics.FooterReads, footerReads))

  override def initMetricsValues(prior: Array[CustomTaskMetric]): Unit =
    prior.foreach(m => if (m.name() == BtrScanMetrics.FooterReads) footerReads += m.value())

  override def close(): Unit = ()
}

/** One read split: a set of surviving row groups of one file, with the
  * projected columns' block offsets resolved at planning time.
  */
final case class BtrChunkRange(numRows: Int, offsets: Array[Long], lengths: Array[Int],
    // 0-based ordinal of this group's first row WITHIN ITS FILE, from the
    // full footer (chunk skipping never shifts it) — deletion-vector
    // masks and the _pos metadata column address rows by this ordinal
    firstOrdinal: Long = 0L)

/** One read split. `partValues` aligns with the required schema: null for
  * data columns (their offsets live in `groups`), the hive directory
  * value (or the null-partition marker) for partition columns.
  */
/** Several per-file slices chained into one Spark task: an unpartitioned
  * scan's equal-bytes share that crosses files, or many small files of a
  * partitioned table packed together (Spark's parquet path packs files
  * into FilePartitions for the same reason) — a 100k-file table must not
  * cost 100k scheduler rounds when its bytes fit in a handful of splits.
  * Slices keep their own partition values, physical tags and deletion
  * vectors; the packed reader chains them over one vector set. Never
  * used when key-grouped (storage-partitioned) planning is on — grouping
  * needs per-key splits with HasPartitionKey.
  */
final case class BtrPackedInputPartition(slices: Array[BtrInputPartition])
    extends InputPartition

final case class BtrInputPartition(
    file: String,
    groups: Array[BtrChunkRange],
    partValues: Array[String] = Array.empty,
    // per-required-column PHYSICAL tag the file's chunks were encoded
    // with (footer v5); 0/absent → the table schema's tag. Lets the
    // reader upcast narrow pre-widening files (int→long, float→double)
    fileTags: Array[Int] = null,
    // catalyst-typed partition key in partCols order, for Spark's
    // key-grouped split grouping (storage-partitioned joins); null for
    // unpartitioned tables, where outputPartitioning reports unknown and
    // Spark never consults this
    partKey: InternalRow = null,
    // deletion-vector blobs targeting this file (absolute paths; empty =
    // no mask) and the file's length for the blobs' imposter check
    dvBlobs: Array[String] = Array.empty,
    fileLen: Long = -1L,
    // CDC delete batches INVERT the mask: emit exactly the rows the
    // blobs delete (the change rows of a DV commit), not the survivors
    dvEmitDeleted: Boolean = false,
    // blobs ALREADY applied before the emitting commit: rows they mask
    // are subtracted from the emitted set (concurrent same-target
    // deletes may overlap; an overlap row was already reported)
    dvPriorBlobs: Array[String] = Array.empty
) extends InputPartition
    with HasPartitionKey {
  override def partitionKey(): InternalRow = partKey
}

object BtrScan {
  /** Test-only race injection: runs between a current read's mask
    * resolve and its data listing — the deterministic stand-in for a
    * merge-on-read commit landing inside that window (same pattern as
    * `BtrCompact.beforeSwap`). One-shot: consumed on use.
    */
  private[graft] var betweenDvResolveAndListing: () => Unit = () => ()

  /** Split-packing engages above this many raw splits (below it, per-task
    * overhead is noise and per-file splits keep plans observable).
    */
  val PackMinSplits = 64

  /** Full struct types by column name — the reader maps a PRUNED struct
    * projection's leaves onto file leaf positions through these.
    */
  def fullStructsOf(schema: StructType): Map[String, StructType] = {
    val m = schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        f.name -> f.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      // array<struct> columns: the full ELEMENT struct, for by-name
      // mapping when Catalyst prunes element fields (consumers matching
      // on (dataType, get) never confuse the two — the column's own type
      // is ArrayType)
      case f if f.dataType.isInstanceOf[ArrayType] &&
        f.dataType.asInstanceOf[ArrayType].elementType
          .isInstanceOf[org.apache.spark.sql.types.StructType] =>
        f.name -> f.dataType.asInstanceOf[ArrayType].elementType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      // map<K, struct> columns: the full VALUE struct — Catalyst prunes
      // value-struct fields too, and the fill must map required fields
      // by name onto the file's leaf order
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
        f.dataType.asInstanceOf[org.apache.spark.sql.types.MapType].valueType
          .isInstanceOf[org.apache.spark.sql.types.StructType] =>
        f.name -> f.dataType.asInstanceOf[org.apache.spark.sql.types.MapType].valueType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    if (m.isEmpty) Map.empty else m.toMap
  }

  /** `_file` metadata column (SupportsMetadataColumns): the qualified
    * path of the data file each row came from — provenance for pipeline
    * debugging, and the group identity row-level MERGE/UPDATE/DELETE
    * runtime group filtering prunes on (the same role Spark's parquet
    * `_metadata.file_path` and Iceberg's `_file` play).
    */
  val FileMetaCol = "_file"

  /** The metadata column is active only when no DATA column claims the
    * name — Spark's SupportsMetadataColumns contract is that data columns
    * win conflicts, and synthesizing over a real `_file` column would
    * shadow its stored values.
    */
  def fileColActive(tableSchema: StructType): Boolean =
    !tableSchema.fieldNames.contains(FileMetaCol)

  /** `_pos` — the row's 0-based ordinal within its data file, from the
    * footer's group row counts (chunk skipping never shifts it). With
    * `_file` it forms the row ID of delta-based row-level operations
    * (deletion-vector DELETE). Suppressed when a data column claims the
    * name, like `_file`.
    */
  val PosMetaCol = "_pos"

  def posColActive(tableSchema: StructType): Boolean =
    !tableSchema.fieldNames.contains(PosMetaCol)

  /** Directory-value string → catalyst value (the HasPartitionKey typing
    * of the same parse [[BtrColumnarReader]] fillConstant does into
    * vectors). Null partitions map to null.
    */
  private[sources] def partKeyValue(dt: DataType, value: String): Any = {
    if (value == BtrTableMeta.NullPartition) return null
    dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(value)
      case IntegerType => value.toInt
      case LongType => value.toLong
      case ShortType => value.toShort
      case ByteType => value.toByte
      case BooleanType => value.toBoolean
      case DateType => java.time.LocalDate.parse(value).toEpochDay.toInt
      case TimestampType => BtrPartTime.instantMicros(value)
      case TimestampNTZType => BtrPartTime.localMicros(value)
      case other => throw new UnsupportedOperationException(s"btr: partition column type $other")
    }
  }
}

/** Timestamp partition directory values: TIMESTAMP (with local tz)
  * encodes as a UTC ISO-8601 instant (`2026-01-01T02:03:04.500Z`) —
  * session timezone independent, so every engine and every session parses
  * the directory to the same micros; TIMESTAMP_NTZ encodes as the bare
  * ISO local date-time. Colons are directory-safe through the shared
  * hive-style escaping (`%3A`). Micros-precision round-trip both ways.
  */
object BtrPartTime {
  def microsToInstantString(micros: Long): String =
    java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L).toString

  def instantMicros(s: String): Long = {
    val i = java.time.Instant.parse(s)
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
  }

  def microsToLocalString(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L).toInt * 1000,
      java.time.ZoneOffset.UTC).toString

  def localMicros(s: String): Long = {
    val ldt = java.time.LocalDateTime.parse(s)
    Math.addExact(Math.multiplyExact(ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
      ldt.getNano / 1000L)
  }

  /** Pushed-filter literal → micros (Spark sends java.sql.Timestamp or,
    * under the java8 datetime API, Instant / LocalDateTime).
    */
  def literalMicros(lit: Any): Option[Long] = lit match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case l: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l))
    case _ => None
  }
}

class BtrReaderFactory(requiredSchema: StructType, filters: Array[Filter] = Array.empty,
    // full struct types by column name (table schema) — a PRUNED struct
    // in requiredSchema maps its leaves onto file leaf positions through
    // this, and unrequested leaves skip decoding entirely
    fullStructs: Map[String, StructType] = Map.empty,
    // required-schema index of the `_pos` metadata column (-1 = absent):
    // the reader synthesizes it from each group's firstOrdinal
    posCol: Int = -1)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("btr scan is columnar; row reads go through columnarBatch")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case packed: BtrPackedInputPartition =>
        new BtrPackedColumnarReader(packed, requiredSchema, filters, fullStructs, posCol)
      case single: BtrInputPartition =>
        new BtrColumnarReader(single, requiredSchema, filters, fullStructs, posCol)
    }
}

/** Chains one [[BtrColumnarReader]] per packed slice — per-slice reader
  * state (file stream, physical tags, partition constants) stays where it
  * was; this just sequences them inside one task, over one vector set
  * sized for the largest row group of any slice and one set of work
  * counts.
  */
class BtrPackedColumnarReader(packed: BtrPackedInputPartition,
    requiredSchema: StructType, filters: Array[Filter],
    fullStructs: Map[String, StructType] = Map.empty, posCol: Int = -1)
    extends PartitionReader[ColumnarBatch] {
  private var idx = 0
  private var cur: BtrColumnarReader = null
  private lazy val buffers = new BtrReadBuffers(requiredSchema,
    packed.slices.iterator.flatMap(_.groups.iterator).map(_.numRows).foldLeft(0)(math.max))
  private val counts = new BtrReadCounts

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= packed.slices.length) return false
        cur = new BtrColumnarReader(packed.slices(idx), requiredSchema, filters, fullStructs,
          posCol, buffers, counts)
        idx += 1
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = cur.get()

  override def currentMetricsValues(): Array[CustomTaskMetric] = counts.values

  override def initMetricsValues(prior: Array[CustomTaskMetric]): Unit = counts.add(prior)

  // mid-task close/resume (DataSourceRDD closes the previous reader when
  // one task computes the same partition twice, e.g. self-zip): release
  // only the in-flight slice's stream and KEEP cur/idx — nulling cur here
  // would resume at the NEXT slice and silently drop the interrupted
  // slice's remaining row groups. BtrColumnarReader.close() has the same
  // resume-safe contract (its stream reopens on demand).
  override def close(): Unit = if (cur != null) cur.close()
}

/** Spark-side dictionary over a numeric DICT chunk's distinct entries:
  * the stored longs (double chunks: raw bits; float chunks: raw int
  * bits). The accessor conversions double as the type-widening upcast —
  * an int32 chunk read under a widened long column resolves through
  * decodeToLong, a float chunk under double through decodeToDouble — so
  * dict-encoded pre-widening files need no materialized upcast pass.
  */
final class BtrNumericDictionary(entries: Array[Long], tag: Int)
    extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToInt(id: Int): Int = entries(id).toInt
  override def decodeToLong(id: Int): Long = entries(id)
  override def decodeToFloat(id: Int): Float =
    java.lang.Float.intBitsToFloat(entries(id).toInt)
  override def decodeToDouble(id: Int): Double =
    if (tag == PhysType.Double) java.lang.Double.longBitsToDouble(entries(id))
    else java.lang.Float.intBitsToFloat(entries(id).toInt).toDouble
  override def decodeToBinary(id: Int): Array[Byte] =
    throw new UnsupportedOperationException("btr numeric dictionary")
}

/** Spark-side dictionary over a DICT string chunk's distinct entries.
  * `decodeToBinary` returns the SHARED entry array (no copy) — the same
  * contract as Spark's own ParquetDictionary, whose decodeToBinary hands
  * out the page dictionary's backing bytes. Entries are immutable after
  * decode. Mirrors the reference's zero-copy dict view
  * (btrblocks/storage/StringPointerArrayViewer.hpp:11-26).
  */
final class BtrStringDictionary(entries: Array[Array[Byte]])
    extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToBinary(id: Int): Array[Byte] = entries(id)
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("btr string dictionary")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("btr string dictionary")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("btr string dictionary")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("btr string dictionary")
}

/** A reader's reusable buffers, sized for `maxRows` rows per group. */
final class BtrReadBuffers(requiredSchema: StructType, maxRows: Int) {
  // one vector set reused across row groups (reset + refill, like Spark's
  // parquet vectorized reader) — never close a batch a consumer may still
  // hold, and no per-group allocation
  val vectors: Array[OnHeapColumnVector] =
    requiredSchema.fields.map(f => new OnHeapColumnVector(maxRows, f.dataType))
  val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]], 0)
  // grow-only per-column compressed-blob scratch (the analog of the
  // reference's thread-local get_level_data buffers, common/Units.hpp:118-129):
  // wide scans would otherwise allocate one Array[Byte] per column per row
  // group — pure GC churn, the blob is dead the moment decode returns
  val blobBufs = new Array[Array[Byte]](requiredSchema.length)
  // grow-only per-column decode outputs, for the same reason: a chunk's
  // values are dead once they are copied into its vector. Slices of a
  // packed split share them, so each decode may land in arrays longer
  // than its chunk, holding a previous chunk's tail
  val decodeOuts: Array[ChunkCodec.ScanOut] =
    Array.fill(requiredSchema.length)(new ChunkCodec.ScanOut)
}

/** Vectorized reader: one ColumnarBatch per row group, decoded straight
  * into OnHeapColumnVectors — the analog of BtrReader::readColumn
  * (/root/reference/btrblocks/compression/BtrReader.cpp:31-74), with
  * Catalyst/WSCG consuming batches above.
  */
class BtrColumnarReader(partition: BtrInputPartition, requiredSchema: StructType,
    filters: Array[Filter] = Array.empty,
    fullStructs: Map[String, StructType] = Map.empty, posCol: Int = -1,
    // a packed split's slices share one set; a lone split makes its own
    shared: BtrReadBuffers = null,
    // work counts for the task metrics, shared by a packed split's slices
    counts: BtrReadCounts = new BtrReadCounts)
    extends PartitionReader[ColumnarBatch] {

  private val fs = new Path(partition.file).getFileSystem(BtrTableMeta.hadoopConf())

  // nested leaf pruning: per required column, which FILE leaves to decode
  // (null = not a struct / all leaves) and, per required child position,
  // the file leaf index it maps to (identity when the struct is unpruned)
  private val structWant: Array[Array[Boolean]] =
    requiredSchema.fields.map { f =>
      (f.dataType, fullStructs.get(f.name)) match {
        case (st: StructType, Some(full)) if st.fields.length < full.fields.length =>
          val wanted = st.fieldNames.toSet
          full.fields.map(lf => wanted.contains(lf.name))
        // pruned map VALUE-struct / array<struct> ELEMENT projections:
        // skip unrequested leaves by recorded length, like struct columns
        case (mt: org.apache.spark.sql.types.MapType, Some(full))
          if mt.valueType.isInstanceOf[StructType] &&
            mt.valueType.asInstanceOf[StructType].fields.length < full.fields.length =>
          val wanted = mt.valueType.asInstanceOf[StructType].fieldNames.toSet
          full.fields.map(lf => wanted.contains(lf.name))
        case (at: ArrayType, Some(full))
          if at.elementType.isInstanceOf[StructType] &&
            at.elementType.asInstanceOf[StructType].fields.length < full.fields.length =>
          val wanted = at.elementType.asInstanceOf[StructType].fieldNames.toSet
          full.fields.map(lf => wanted.contains(lf.name))
        case _ => null
      }
    }
  private val structMap: Array[Array[Int]] =
    requiredSchema.fields.map { f =>
      (f.dataType, fullStructs.get(f.name)) match {
        case (st: StructType, Some(full)) if st.fields.length < full.fields.length =>
          st.fields.map(cf => full.fieldIndex(cf.name))
        case _ => null
      }
    }
  // decode with the FILE's physical tag (pre-widening files are narrower
  // than the table schema); 0 in fileTags means "same as table"
  private val tags = requiredSchema.fields.zipWithIndex.map { case (f, i) =>
    val table = PhysType.of(f.dataType)
    val file =
      if (partition.fileTags != null && i < partition.fileTags.length && partition.fileTags(i) != 0)
        partition.fileTags(i)
      else table
    if (file != table && !BtrWidening.widens(file, table))
      throw new IllegalStateException(
        s"btr: file ${partition.file} column '${f.name}' has physical tag $file " +
          s"which cannot widen to table type ${f.dataType.simpleString} (tag $table)")
    file
  }
  private var stream: org.apache.hadoop.fs.FSDataInputStream = _
  private var groupIdx = -1
  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  // deletion-vector masking: the decoded vectors stay columnar; groups
  // with masked rows emit through a row-map-indirected batch instead
  // (see BtrMaskedColumnVector). Loaded lazily — only DV'd files pay.
  private var dvMask: graft.format.DeletionVector.FileMask = _
  private var dvPriorMask: graft.format.DeletionVector.FileMask = _
  private var rowMap: BtrRowMap = _
  private var maskedBatch: ColumnarBatch = _
  private var emitMasked = false
  private var blobBufs: Array[Array[Byte]] = _
  private var decodeOuts: Array[ChunkCodec.ScanOut] = _

  // Spark's DataSourceRDD closes a task's PREVIOUS reader when the same
  // partition is computed again within one task (self-zip / multi-consume,
  // e.g. MLlib's data.zip(data.map(norm))). The reader must survive that:
  // close() releases only the stream, and next() lazily reopens it —
  // vectors are on-heap and GC-managed, so nothing else needs freeing.
  private def in(): org.apache.hadoop.fs.FSDataInputStream = {
    if (stream == null) stream = BtrFs.open(fs, new Path(partition.file))
    stream
  }

  // late materialization: pushed filters that can be evaluated row-level
  // with exact Spark semantics; their columns decode FIRST, and a group
  // where every row fails the conjunction never decodes its siblings
  private var preds: Array[Int => Boolean] = _
  private var predCols: Array[Int] = _ // required-schema indices, decoded first
  private var restCols: Array[Int] = _ // everything else, decoded on survival
  private var dataIdxOf: Array[Int] = _ // required index -> data-offset index (-1 = partition col)

  private def ensureInit(): Unit = {
    if (vectors != null) return
    val buffers =
      if (shared != null) shared
      else new BtrReadBuffers(requiredSchema,
        partition.groups.iterator.map(_.numRows).foldLeft(0)(math.max))
    vectors = buffers.vectors
    batch = buffers.batch
    blobBufs = buffers.blobBufs
    decodeOuts = buffers.decodeOuts
    if (partition.dvBlobs.nonEmpty) {
      def load(paths: Array[String]) = paths.map { bp =>
        val p = new Path(bp)
        val blob =
          try graft.format.DeletionVector.readBlob(p.getFileSystem(BtrTableMeta.hadoopConf()), p)
          catch {
            case e: java.io.FileNotFoundException => throw new IllegalStateException(
              s"btr: deletion vector $bp vanished mid-scan — a concurrent commit " +
                "rewrote or removed its target; retry the read", e)
          }
        // rel-path-reuse imposter check, same discriminator the snapshot
        // log's recorded sizes use
        require(partition.fileLen < 0 || blob.expectedTargetLen == partition.fileLen,
          s"btr: deletion vector $bp targets a file of length ${blob.expectedTargetLen} " +
            s"but ${partition.file} has length ${partition.fileLen} — rel path reuse")
        blob
      }
      dvMask = new graft.format.DeletionVector.FileMask(load(partition.dvBlobs))
      if (partition.dvPriorBlobs.nonEmpty)
        dvPriorMask = new graft.format.DeletionVector.FileMask(load(partition.dvPriorBlobs))
      rowMap = new BtrRowMap
      maskedBatch = new ColumnarBatch(
        vectors.map(v => new BtrMaskedColumnVector(v, rowMap): ColumnVector), 0)
    }
    val hasPart = partition.partValues.nonEmpty
    dataIdxOf = new Array[Int](tags.length)
    var d = 0
    var c = 0
    while (c < tags.length) {
      if (hasPart && partition.partValues(c) != null) dataIdxOf(c) = -1
      else { dataIdxOf(c) = d; d += 1 }
      c += 1
    }
    val built = filters.flatMap(f => BtrLateMat.build(requiredSchema, vectors, f))
    preds = built.map(_._2)
    // EVERY predicate column fills before evaluation — including partition
    // columns, whose vectors synthesize from the directory value
    // (fillConstant): a pred over an unfilled vector reads default values
    // and would silently fail every row. A group only skips when at least
    // one DATA column gates it; with partition-only preds the whole file
    // is constant, so a false pred skips it on the first group.
    predCols = built.flatMap(_._1).distinct.sorted.toArray
    // invariant: every built pred names at least one column, so preds
    // and predCols are empty together
    restCols = (0 until tags.length).filterNot(predCols.contains(_)).toArray
  }

  private def fillColumn(c: Int, g: BtrChunkRange): Unit = {
    vectors(c).reset()
    val d = dataIdxOf(c)
    if (c == posCol) {
      // `_pos` metadata column: within-file ordinals from the footer
      val v = vectors(c)
      var i = 0
      while (i < g.numRows) { v.putLong(i, g.firstOrdinal + i); i += 1 }
    } else if (d < 0) {
      fillConstant(vectors(c), requiredSchema.fields(c).dataType, partition.partValues(c), g.numRows)
    } else if (g.offsets(d) < 0) {
      // schema evolution: the file predates this column — all null
      vectors(c).putNulls(0, g.numRows)
    } else {
      val len = g.lengths(d)
      var buf = blobBufs(d)
      if (buf == null || buf.length < len) {
        buf = new Array[Byte](len)
        blobBufs(d) = buf
      }
      BtrFs.readAt(in(), g.offsets(d), buf, 0, len)
      counts.decodedChunks += 1
      val dec = ChunkCodec.decodeForScan(new BufReader(buf, 0, len), tags(c), g.numRows,
        wantLeaves = structWant(c), out = decodeOuts(c))
      fillVector(vectors(c), requiredSchema.fields(c).dataType, tags(c), dec, g.numRows,
        leafMap = structMap(c),
        fullDt = fullStructs.get(requiredSchema.fields(c).name).orNull)
    }
  }

  private def anyRowPasses(n: Int): Boolean = {
    var r = 0
    while (r < n) {
      var pass = true
      var p = 0
      while (pass && p < preds.length) { pass = preds(p)(r); p += 1 }
      if (pass) return true
      r += 1
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      groupIdx += 1
      if (groupIdx >= partition.groups.length) return false
      val g = partition.groups(groupIdx)
      ensureInit()
      var survives = true
      var deleted: java.util.BitSet = null
      if (dvMask != null) {
        deleted = dvMask.deletedIn(g.firstOrdinal, g.numRows)
        if (partition.dvEmitDeleted) {
          // CDC delete batch: only groups holding DELETED rows emit;
          // rows an earlier commit already masked were already reported
          if (deleted != null && dvPriorMask != null) {
            val prior = dvPriorMask.deletedIn(g.firstOrdinal, g.numRows)
            if (prior != null) deleted.andNot(prior)
          }
          if (deleted == null || deleted.isEmpty) survives = false
        } else if (deleted != null && deleted.cardinality() == g.numRows) {
          // fully-deleted group: skipped before any decode
          survives = false
        }
      } else if (partition.dvEmitDeleted) {
        survives = false // no mask, no deleted rows to emit
      }
      if (survives && preds.nonEmpty) {
        predCols.foreach(fillColumn(_, g))
        if (!anyRowPasses(g.numRows)) {
          // stats/bloom couldn't prove this group empty but the decoded
          // filter columns do — siblings are never decoded
          counts.lateMatSkippedGroups += 1
          survives = false
        }
      }
      if (survives) {
        restCols.foreach(fillColumn(_, g))
        if (deleted == null && !partition.dvEmitDeleted) {
          emitMasked = false
          batch.setNumRows(g.numRows)
          return true
        }
        val n =
          if (partition.dvEmitDeleted) rowMap.fillDeleted(deleted, g.numRows)
          else rowMap.fillSurvivors(deleted, g.numRows)
        if (n > 0) {
          emitMasked = true
          maskedBatch.setNumRows(n)
          return true
        }
        // every survivor masked away (shouldn't happen: full-deletion
        // short-circuits above) — fall through to the next group
      }
    }
    false // unreachable
  }

  /** Synthesize a partition column: every row carries the directory value. */
  private def fillConstant(v: OnHeapColumnVector, dt: DataType, value: String, n: Int): Unit = {
    if (value == PartitionPrune.NullPart) { v.putNulls(0, n); return }
    var i = 0
    dt match {
      case StringType =>
        val bytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        while (i < n) { v.putByteArray(i, bytes, 0, bytes.length); i += 1 }
      case IntegerType =>
        val x = value.toInt
        while (i < n) { v.putInt(i, x); i += 1 }
      case LongType =>
        val x = value.toLong
        while (i < n) { v.putLong(i, x); i += 1 }
      case ShortType =>
        val x = value.toShort
        while (i < n) { v.putShort(i, x); i += 1 }
      case ByteType =>
        val x = value.toByte
        while (i < n) { v.putByte(i, x); i += 1 }
      case BooleanType =>
        val x = value.toBoolean
        while (i < n) { v.putBoolean(i, x); i += 1 }
      case DateType =>
        val x = java.time.LocalDate.parse(value).toEpochDay.toInt
        while (i < n) { v.putInt(i, x); i += 1 }
      case TimestampType =>
        val x = BtrPartTime.instantMicros(value)
        while (i < n) { v.putLong(i, x); i += 1 }
      case TimestampNTZType =>
        val x = BtrPartTime.localMicros(value)
        while (i < n) { v.putLong(i, x); i += 1 }
      case other => throw new UnsupportedOperationException(s"btr: partition column type $other")
    }
  }

  private def fillVector(v: OnHeapColumnVector, dt: DataType, tag: Int, dec: ChunkCodec.Decoded,
      n: Int, leafMap: Array[Int] = null, fullDt: DataType = null): Unit = {
    if (tag == PhysType.Struct) {
      // children fill recursively through the scalar paths below; a
      // pruned projection maps child j onto its file leaf via leafMap at
      // the top level, and by NAME against the file's full struct type
      // below it (Catalyst may prune nested fields at any depth, and the
      // decoded leaf arrays are always in FILE order)
      val st = dt.asInstanceOf[StructType]
      val fullSt = fullDt match {
        case f: StructType if !(f eq st) => f
        case _ => st
      }
      var j = 0
      while (j < st.fields.length) {
        val fj =
          if (leafMap != null) leafMap(j)
          else if (!(fullSt eq st)) fullSt.fieldIndex(st.fields(j).name)
          else j
        val childV = v.getChild(j).asInstanceOf[OnHeapColumnVector]
        // reserve() does NOT cascade into struct children — and a struct
        // filled at ENTRY granularity (map values) can exceed the batch
        // capacity its children were allocated with
        childV.reserve(n)
        // struct-leaf evolution: a file written before this leaf existed
        // has fewer leaves (each chunk self-describes its count) — the
        // added leaf reads as all null, like an added top-level column
        if (fj >= dec.structTags.length) childV.putNulls(0, n)
        else fillVector(childV, st.fields(j).dataType, dec.structTags(fj), dec.structLeaves(fj), n,
          fullDt = fullSt.fields(fj).dataType)
        j += 1
      }
      if (dec.hasNulls) {
        var i = 0
        while (i < n) { if (dec.isNull(i)) v.putNull(i); i += 1 }
      }
      return
    }
    val nulls = dec.hasNulls
    val tableTag = PhysType.of(dt)
    // numeric DICT chunks fill ids only — the vector dictionary resolves
    // values (and any int32→long / float→double widening) lazily on
    // access, so late-materialization-rejected rows never touch the
    // entry array. Booleans never get here (decodeForScan materializes
    // them; Spark's getBoolean bypasses dictionaries).
    if (dec.dictLongs != null) {
      v.setDictionary(new BtrNumericDictionary(dec.dictLongs, tag))
      val ids = v.reserveDictionaryIds(n)
      var i = 0
      while (i < n) { ids.putInt(i, dec.longs(i).toInt); i += 1 }
      if (nulls) {
        i = 0
        while (i < n) { if (dec.isNull(i)) v.putNull(i); i += 1 }
      }
      return
    }
    // vectors are reused across row groups — a dictionary left over from
    // a previous chunk must not shadow the materialized values below
    v.setDictionary(null)
    if (tag != tableTag) {
      // pre-widening file: upcast the narrow decode into the wide vector
      (tag, tableTag) match {
        case (PhysType.Int32, PhysType.Int64) =>
          // IntCodec decodes to Array[Long] at any width — the long fill
          // path below consumes the int32 chunk's values unchanged
          fillVector(v, dt, PhysType.Int64, dec, n)
        case (PhysType.Float, PhysType.Double) =>
          var i = 0
          if (!nulls) {
            while (i < n) {
              v.putDouble(i, java.lang.Float.intBitsToFloat(dec.longs(i).toInt).toDouble)
              i += 1
            }
          } else {
            while (i < n) {
              if (dec.isNull(i)) v.putNull(i)
              else v.putDouble(i, java.lang.Float.intBitsToFloat(dec.longs(i).toInt).toDouble)
              i += 1
            }
          }
        case _ => throw new IllegalStateException(
          s"btr: physical tag $tag cannot widen to ${dt.simpleString}")
      }
      return
    }
    var i = 0
    tag match {
      case PhysType.Int32 | PhysType.Date =>
        // short/byte ride the Int32 tag but their vectors are physically
        // narrower — putInt into them would NPE
        dt match {
          case ShortType =>
            while (i < n) {
              if (nulls && dec.isNull(i)) v.putNull(i) else v.putShort(i, dec.longs(i).toShort)
              i += 1
            }
          case ByteType =>
            while (i < n) {
              if (nulls && dec.isNull(i)) v.putNull(i) else v.putByte(i, dec.longs(i).toByte)
              i += 1
            }
          case _ =>
            if (!nulls) {
              while (i < n) { v.putInt(i, dec.longs(i).toInt); i += 1 }
            } else {
              while (i < n) {
                if (dec.isNull(i)) v.putNull(i) else v.putInt(i, dec.longs(i).toInt)
                i += 1
              }
            }
        }
      case PhysType.Int64 | PhysType.Timestamp | PhysType.TimestampNtz | PhysType.Decimal64 =>
        // decimal(≤18) vectors store the unscaled long, so the same path
        if (!nulls) {
          // null-free fast path: one bulk copy into the vector
          v.putLongs(0, n, dec.longs, 0)
        } else {
          while (i < n) {
            if (dec.isNull(i)) v.putNull(i) else v.putLong(i, dec.longs(i))
            i += 1
          }
        }
      case PhysType.Bool =>
        while (i < n) {
          if (nulls && dec.isNull(i)) v.putNull(i) else v.putBoolean(i, dec.longs(i) != 0L)
          i += 1
        }
      case PhysType.Double =>
        if (!nulls) {
          v.putDoubles(0, n, dec.doubles, 0)
        } else {
          while (i < n) {
            if (dec.isNull(i)) v.putNull(i) else v.putDouble(i, dec.doubles(i))
            i += 1
          }
        }
      case PhysType.Float =>
        while (i < n) {
          if (nulls && dec.isNull(i)) v.putNull(i)
          else v.putFloat(i, java.lang.Float.intBitsToFloat(dec.longs(i).toInt))
          i += 1
        }
      case PhysType.KvMap =>
        val mt = dt.asInstanceOf[org.apache.spark.sql.types.MapType]
        val kChild = v.getChild(0).asInstanceOf[OnHeapColumnVector]
        val vChild = v.getChild(1).asInstanceOf[OnHeapColumnVector]
        val ec = dec.elemCount
        kChild.reset(); vChild.reset()
        kChild.reserve(ec); vChild.reserve(ec)
        // key/value element streams fill through the same scalar
        // recursion struct leaves use; a struct VALUE type may be pruned
        // by Catalyst, so thread the file's full value struct through
        val fullValDt: DataType = fullDt match {
          case f: org.apache.spark.sql.types.MapType => f.valueType
          case f: StructType => f // top-level registration stores the value struct
          case _ => mt.valueType
        }
        fillVector(kChild, mt.keyType, dec.structTags(0), dec.structLeaves(0), ec)
        fillVector(vChild, mt.valueType, dec.structTags(1), dec.structLeaves(1), ec,
          fullDt = fullValDt)
        var off = 0
        while (i < n) {
          val len = dec.arrLens(i)
          if (nulls && dec.isNull(i)) v.putNull(i)
          else v.putArray(i, off, len)
          off += len
          i += 1
        }
      case PhysType.ArrArr =>
        // array<array>: the array child is itself an array vector that
        // fills from the decoded inner-array stream through the generic
        // recursion (outer-element nulls ride the inner Decoded's row
        // nullmap)
        val at = dt.asInstanceOf[ArrayType]
        val child = v.arrayData().asInstanceOf[OnHeapColumnVector]
        val ec = dec.elemCount
        child.reset()
        child.reserve(ec)
        fillVector(child, at.elementType, dec.structTags(0), dec.structLeaves(0), ec)
        var off = 0
        while (i < n) {
          val len = dec.arrLens(i)
          if (nulls && dec.isNull(i)) v.putNull(i) else v.putArray(i, off, len)
          off += len
          i += 1
        }
      case PhysType.ArrStruct =>
        // array<struct>: the array child is a struct vector whose own
        // children fill from the decoded element-leaf streams; nested
        // field pruning maps required element fields by NAME against the
        // file's full element struct (decode always yields file order)
        val at = dt.asInstanceOf[ArrayType]
        val est = at.elementType.asInstanceOf[StructType]
        val fullEst = fullDt match {
          case f: StructType if !(f eq est) => f
          case _ => est
        }
        val child = v.arrayData()
        val ec = dec.elemCount
        child.reserve(ec)
        var j = 0
        while (j < est.fields.length) {
          val fj = if (!(fullEst eq est)) fullEst.fieldIndex(est.fields(j).name) else j
          val cv = child.getChild(j).asInstanceOf[OnHeapColumnVector]
          cv.reserve(ec) // reserve() does NOT cascade into struct children
          fillVector(cv, est.fields(j).dataType, dec.structTags(fj), dec.structLeaves(fj), ec)
          j += 1
        }
        if (dec.elemHasNulls) {
          var e = 0
          while (e < ec) { if (dec.elemIsNull(e)) child.putNull(e); e += 1 }
        }
        var off = 0
        while (i < n) {
          val len = dec.arrLens(i)
          if (nulls && dec.isNull(i)) v.putNull(i) else v.putArray(i, off, len)
          off += len
          i += 1
        }
      case t if PhysType.isArrayFamily(t) =>
        val child = v.arrayData()
        val ec = dec.elemCount
        child.reserve(ec)
        val et = PhysType.elemTag(t)
        var e = 0
        et match {
          case PhysType.Float =>
            while (e < ec) {
              if (dec.elemHasNulls && dec.elemIsNull(e)) child.putNull(e)
              else child.putFloat(e, java.lang.Float.intBitsToFloat(dec.longs(e).toInt))
              e += 1
            }
          case PhysType.Double =>
            while (e < ec) {
              if (dec.elemHasNulls && dec.elemIsNull(e)) child.putNull(e)
              else child.putDouble(e, dec.doubles(e))
              e += 1
            }
          case PhysType.Int32 =>
            while (e < ec) {
              if (dec.elemHasNulls && dec.elemIsNull(e)) child.putNull(e)
              else child.putInt(e, dec.longs(e).toInt)
              e += 1
            }
          case PhysType.Str =>
            // string elements: strLens/strBytes carry the element stream
            var off = 0
            while (e < ec) {
              val len = dec.strLens(e)
              if (dec.elemHasNulls && dec.elemIsNull(e)) child.putNull(e)
              else child.asInstanceOf[OnHeapColumnVector].putByteArray(e, dec.strBytes, off, len)
              off += len
              e += 1
            }
          case _ => // Int64
            while (e < ec) {
              if (dec.elemHasNulls && dec.elemIsNull(e)) child.putNull(e)
              else child.putLong(e, dec.longs(e))
              e += 1
            }
        }
        var off = 0
        while (i < n) {
          val len = dec.arrLens(i)
          if (nulls && dec.isNull(i)) v.putNull(i)
          else v.putArray(i, off, len)
          off += len
          i += 1
        }
      case _ => // string / binary
        if (dec.dictEntries != null) {
          // dictionary-encoded fill: ids only, no per-row byte copies —
          // Spark's getUTF8String/getBinary resolve ids against the shared
          // entry arrays (same sharing contract as its parquet reader)
          v.setDictionary(new BtrStringDictionary(dec.dictEntries))
          val ids = v.reserveDictionaryIds(n)
          if (dec.longs == null) ids.putInts(0, n, 0) // ONE_VALUE: constant
          else {
            while (i < n) { ids.putInt(i, dec.longs(i).toInt); i += 1 }
          }
          if (nulls) {
            i = 0
            while (i < n) { if (dec.isNull(i)) v.putNull(i); i += 1 }
          }
        } else {
          // vectors are reused across row groups — a dictionary left over
          // from a previous chunk must not shadow materialized bytes
          v.setDictionary(null)
          var off = 0
          if (!nulls) {
            while (i < n) {
              val len = dec.strLens(i)
              v.putByteArray(i, dec.strBytes, off, len)
              off += len
              i += 1
            }
          } else {
            while (i < n) {
              val len = dec.strLens(i)
              if (dec.isNull(i)) v.putNull(i)
              else v.putByteArray(i, dec.strBytes, off, len)
              off += len
              i += 1
            }
          }
        }
    }
  }

  override def get(): ColumnarBatch = if (emitMasked) maskedBatch else batch

  override def currentMetricsValues(): Array[CustomTaskMetric] = counts.values

  override def initMetricsValues(prior: Array[CustomTaskMetric]): Unit = counts.add(prior)

  override def close(): Unit = {
    // only the stream: a concurrent consumer in the same task may still
    // hold the batch (see DataSourceRDD note above); vectors are on-heap
    if (stream != null) {
      stream.close()
      stream = null
    }
  }
}

/** Row-level evaluation of pushed filters against FILLED vectors (late
  * materialization). [[build]] returns the referenced required-schema
  * column indices plus a predicate where pred(row)==false PROVES the
  * filter is not TRUE for that row (null ⇒ not true), reproducing
  * Spark's comparison semantics exactly: SQLOrderingUtil for float and
  * double (NaN largest, NaN==NaN, -0.0==0.0), binary UTF8 ordering for
  * strings, and the same literal conversions as [[ChunkSkip]]. Filters
  * whose semantics can't be reproduced exactly yield None — the reader
  * then never prunes on them, which is always sound because Spark
  * re-applies the full filter above the scan.
  */
object BtrLateMat {
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

  def build(schema: StructType, vectors: Array[OnHeapColumnVector], f: Filter)
      : Option[(Seq[Int], Int => Boolean)] = f match {
    case EqualTo(a, v) => cmp(schema, vectors, a, v, _ == 0)
    case EqualNullSafe(a, null) => build(schema, vectors, IsNull(a))
    case EqualNullSafe(a, v) => cmp(schema, vectors, a, v, _ == 0)
    case GreaterThan(a, v) => cmp(schema, vectors, a, v, _ > 0)
    case GreaterThanOrEqual(a, v) => cmp(schema, vectors, a, v, _ >= 0)
    case LessThan(a, v) => cmp(schema, vectors, a, v, _ < 0)
    case LessThanOrEqual(a, v) => cmp(schema, vectors, a, v, _ <= 0)
    case In(a, vs) if vs != null && vs.exists(_ != null) =>
      // null IN-values never make the predicate TRUE — evaluate the rest
      inPred(schema, vectors, a, vs.filter(_ != null))
    case IsNull(a) =>
      col(schema, vectors, a).map { case (ci, vec, _) =>
        (Seq(ci), (r: Int) => vec.isNullAt(r))
      }
    case IsNotNull(a) =>
      col(schema, vectors, a).map { case (ci, vec, _) =>
        (Seq(ci), (r: Int) => !vec.isNullAt(r))
      }
    case StringStartsWith(a, v) if v != null =>
      col(schema, vectors, a).filter(_._3 == StringType).map { case (ci, vec, _) =>
        val prefix = org.apache.spark.unsafe.types.UTF8String.fromString(v)
        (Seq(ci), (r: Int) => !vec.isNullAt(r) && vec.getUTF8String(r).startsWith(prefix))
      }
    case And(l, r) =>
      // one evaluable side alone is sound: its pred false ⇒ that side is
      // not true ⇒ the conjunction is not true
      (build(schema, vectors, l), build(schema, vectors, r)) match {
        case (Some((c1, p1)), Some((c2, p2))) =>
          Some(((c1 ++ c2).distinct, (row: Int) => p1(row) && p2(row)))
        case (one @ Some(_), None) => one
        case (None, other) => other
      }
    case Or(l, r) =>
      // Or needs BOTH sides: both not-true ⇒ the disjunction is not true
      for ((c1, p1) <- build(schema, vectors, l); (c2, p2) <- build(schema, vectors, r))
        yield ((c1 ++ c2).distinct, (row: Int) => p1(row) || p2(row))
    case _ => None
  }

  /** Resolve an attribute to (decode-dependency column index, value
    * vector, type). Dotted names resolve one struct level: "rec.a" reads
    * the struct column's CHILD vector, with the struct column as the
    * decode dependency. Child nulls subsume struct nulls (the writer
    * null-fills leaves under a null struct), so SQL's null-propagating
    * comparison semantics fall out of the child's single isNullAt.
    */
  private def col(schema: StructType, vectors: Array[OnHeapColumnVector], a: String)
      : Option[(Int, OnHeapColumnVector, DataType)] = {
    val i = schema.fields.indexWhere(_.name == a)
    if (i >= 0) return Some((i, vectors(i), schema.fields(i).dataType))
    ChunkSkip.nestedPath(schema, a).map { case (pi, path, dt) =>
      var v = vectors(pi)
      path.foreach(li => v = v.getChild(li).asInstanceOf[OnHeapColumnVector])
      (pi, v, dt)
    }
  }

  /** Can [[build]] evaluate this filter given vectors? The nested-
    * resolving admission check for pushFilters: a dotted struct-leaf
    * reference that ChunkSkip (stats-based, top-level only) would
    * reject still earns its keep through late materialization. A pushed
    * filter build() later declines is harmless — every filter stays a
    * residual above the scan.
    */
  def supportsNested(schema: StructType, f: Filter): Boolean = {
    def leafOk(a: String): Boolean =
      a.contains('.') && !schema.fieldNames.contains(a) &&
        ChunkSkip.nestedPath(schema, a).exists(!_._3.isInstanceOf[StructType])
    f match {
      case EqualTo(a, v) => leafOk(a) && v != null
      case EqualNullSafe(a, _) => leafOk(a)
      case GreaterThan(a, v) => leafOk(a) && v != null
      case GreaterThanOrEqual(a, v) => leafOk(a) && v != null
      case LessThan(a, v) => leafOk(a) && v != null
      case LessThanOrEqual(a, v) => leafOk(a) && v != null
      case In(a, vs) => leafOk(a) && vs != null && vs.nonEmpty
      case StringStartsWith(a, v) => leafOk(a) && v != null && v.nonEmpty
      case IsNull(a) => leafOk(a)
      case IsNotNull(a) => leafOk(a)
      case And(l, r) => supportsNested(schema, l) || supportsNested(schema, r)
      case Or(l, r) =>
        (supportsNested(schema, l) || ChunkSkip.supports(schema, l)) &&
          (supportsNested(schema, r) || ChunkSkip.supports(schema, r)) &&
          (supportsNested(schema, l) || supportsNested(schema, r))
      case _ => false
    }
  }

  private def cmp(schema: StructType, vectors: Array[OnHeapColumnVector], a: String, v: Any,
      ok: Int => Boolean): Option[(Seq[Int], Int => Boolean)] = {
    if (v == null) return None
    col(schema, vectors, a).flatMap { case (ci, vec, dt) =>
      try dt match {
        case IntegerType | DateType =>
          val lit = ChunkSkip.toLongLit(v)
          Some((Seq(ci), (r: Int) =>
            !vec.isNullAt(r) && ok(java.lang.Long.compare(vec.getInt(r).toLong, lit))))
        case LongType | TimestampType | TimestampNTZType =>
          val lit = ChunkSkip.toLongLit(v)
          Some((Seq(ci), (r: Int) =>
            !vec.isNullAt(r) && ok(java.lang.Long.compare(vec.getLong(r), lit))))
        case ShortType =>
          val lit = ChunkSkip.toLongLit(v)
          Some((Seq(ci), (r: Int) =>
            !vec.isNullAt(r) && ok(java.lang.Long.compare(vec.getShort(r).toLong, lit))))
        case ByteType =>
          val lit = ChunkSkip.toLongLit(v)
          Some((Seq(ci), (r: Int) =>
            !vec.isNullAt(r) && ok(java.lang.Long.compare(vec.getByte(r).toLong, lit))))
        case BooleanType =>
          val lit = ChunkSkip.toLongLit(v)
          Some((Seq(ci), (r: Int) => !vec.isNullAt(r) &&
            ok(java.lang.Long.compare(if (vec.getBoolean(r)) 1L else 0L, lit))))
        case DoubleType => v match {
          case d: java.lang.Double =>
            Some((Seq(ci), (r: Int) =>
              !vec.isNullAt(r) && ok(SQLOrderingUtil.compareDoubles(vec.getDouble(r), d))))
          case _ => None
        }
        case FloatType => v match {
          case fl: java.lang.Float =>
            Some((Seq(ci), (r: Int) =>
              !vec.isNullAt(r) && ok(SQLOrderingUtil.compareFloats(vec.getFloat(r), fl))))
          case _ => None
        }
        case d: DecimalType if d.precision <= 18 =>
          val lit = ChunkSkip.decimalLit(v, d)
          Some((Seq(ci), (r: Int) => !vec.isNullAt(r) &&
            ok(java.lang.Long.compare(vec.getDecimal(r, d.precision, d.scale).toUnscaledLong, lit))))
        case StringType =>
          val lit = org.apache.spark.unsafe.types.UTF8String.fromBytes(ChunkSkip.toBytesLit(v))
          Some((Seq(ci), (r: Int) =>
            !vec.isNullAt(r) && ok(vec.getUTF8String(r).compareTo(lit))))
        case BinaryType =>
          val lit = ChunkSkip.toBytesLit(v)
          Some((Seq(ci), (r: Int) =>
            !vec.isNullAt(r) && ok(java.util.Arrays.compareUnsigned(vec.getBinary(r), lit))))
        case _ => None
      } catch { case _: IllegalArgumentException => None }
    }
  }

  // Spark double/float equality classes: -0.0 == 0.0 (normalize to +0),
  // NaN == NaN (doubleToLongBits canonicalizes every NaN payload)
  private def normD(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0d) 0.0d else d)
  private def normF(f: Float): Int =
    java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)

  private def inPred(schema: StructType, vectors: Array[OnHeapColumnVector], a: String,
      vs: Array[Any]): Option[(Seq[Int], Int => Boolean)] = {
    if (vs.isEmpty) return None
    col(schema, vectors, a).flatMap { case (ci, vec, dt) =>
      try dt match {
        case IntegerType | DateType | LongType | TimestampType | TimestampNTZType |
            ShortType | ByteType | BooleanType =>
          val set = vs.map(ChunkSkip.toLongLit).toSet
          val get: Int => Long = dt match {
            case IntegerType | DateType => r => vec.getInt(r).toLong
            case ShortType => r => vec.getShort(r).toLong
            case ByteType => r => vec.getByte(r).toLong
            case BooleanType => r => if (vec.getBoolean(r)) 1L else 0L
            case _ => r => vec.getLong(r)
          }
          Some((Seq(ci), (r: Int) => !vec.isNullAt(r) && set.contains(get(r))))
        case DoubleType if vs.forall(_.isInstanceOf[java.lang.Double]) =>
          val set = vs.map(x => normD(x.asInstanceOf[Double])).toSet
          Some((Seq(ci), (r: Int) => !vec.isNullAt(r) && set.contains(normD(vec.getDouble(r)))))
        case FloatType if vs.forall(_.isInstanceOf[java.lang.Float]) =>
          val set = vs.map(x => normF(x.asInstanceOf[Float])).toSet
          Some((Seq(ci), (r: Int) => !vec.isNullAt(r) && set.contains(normF(vec.getFloat(r)))))
        case StringType =>
          val set = vs.map(x =>
            org.apache.spark.unsafe.types.UTF8String.fromBytes(ChunkSkip.toBytesLit(x))).toSet
          Some((Seq(ci), (r: Int) => !vec.isNullAt(r) && set.contains(vec.getUTF8String(r))))
        case d: DecimalType if d.precision <= 18 =>
          val set = vs.map(x => ChunkSkip.decimalLit(x, d)).toSet
          Some((Seq(ci), (r: Int) => !vec.isNullAt(r) &&
            set.contains(vec.getDecimal(r, d.precision, d.scale).toUnscaledLong)))
        case _ => None
      } catch { case _: IllegalArgumentException => None }
    }
  }
}

/** Chunk-skipping predicate evaluation against footer min/max stats. */
object ChunkSkip {
  def supports(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v) => statable(schema, a) && litOk(v)
    // null-safe equality: INSERT OVERWRITE's static PARTITION specs
    // arrive as `col <=> lit`
    case EqualNullSafe(a, null) => resolveType(schema, a).isDefined
    case EqualNullSafe(a, v) => statable(schema, a) && litOk(v)
    case GreaterThan(a, v) => statable(schema, a) && litOk(v)
    case GreaterThanOrEqual(a, v) => statable(schema, a) && litOk(v)
    case LessThan(a, v) => statable(schema, a) && litOk(v)
    case LessThanOrEqual(a, v) => statable(schema, a) && litOk(v)
    case In(a, vs) => statable(schema, a) && vs.nonEmpty && vs.forall(litOk)
    case StringStartsWith(a, v) => statable(schema, a) && v != null && v.nonEmpty
    case IsNull(a) => resolveType(schema, a).isDefined
    case IsNotNull(a) => resolveType(schema, a).isDefined
    case And(l, r) => supports(schema, l) || supports(schema, r)
    case Or(l, r) => supports(schema, l) && supports(schema, r)
    case _ => false
  }

  /** Resolve an attribute's type: a direct field, or a struct-leaf walk
    * for dotted names at ANY depth ("rec.prov.url" → leaf url of nested
    * struct prov; the recursive kind-4 footer stats carry matching
    * per-leaf entries, so the same skip probes apply).
    */
  private[sources] def resolveType(schema: StructType, attr: String): Option[DataType] =
    schema.fields.find(_.name == attr).map(_.dataType).orElse {
      nestedPath(schema, attr).map(_._3)
    }

  /** Walk a dotted attribute through nested structs: returns (top-level
    * field index, leaf index at each level below it, final type).
    */
  private[sources] def nestedPath(schema: StructType, attr: String)
      : Option[(Int, List[Int], DataType)] = {
    if (!attr.contains('.')) return None
    val parts = attr.split('.') // literal-dot split (char overload, not regex)
    if (parts.length < 2) return None
    val pi = schema.fieldNames.indexOf(parts(0))
    if (pi < 0) return None
    var dt = schema.fields(pi).dataType
    val path = scala.collection.mutable.ListBuffer.empty[Int]
    var k = 1
    while (k < parts.length) {
      dt match {
        case st: StructType =>
          val li = st.fieldNames.indexOf(parts(k))
          if (li < 0) return None
          path += li
          dt = st.fields(li).dataType
        case _ => return None
      }
      k += 1
    }
    Some((pi, path.toList, dt))
  }

  private def statable(schema: StructType, attr: String): Boolean =
    resolveType(schema, attr).exists {
      case IntegerType | LongType | DateType | TimestampType | TimestampNTZType |
          BooleanType | DoubleType | FloatType | ShortType | ByteType => true
      case d: DecimalType if d.precision <= 18 => true
      case StringType | BinaryType => true
      case _ => false
    }

  private def litOk(v: Any): Boolean = v match {
    case null => false
    case _: Int | _: Long | _: Short | _: Byte | _: Boolean | _: Double | _: Float => true
    case _: java.sql.Date | _: java.time.LocalDate => true
    case _: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime => true
    case _: String | _: Array[Byte] => true
    case _: java.math.BigDecimal | _: BigDecimal | _: org.apache.spark.sql.types.Decimal => true
    case _ => false
  }

  /** Unscaled-long form of a decimal literal at the column's scale;
    * throws (→ conservatively no skip) when the literal needs rounding.
    */
  private[sources] def decimalLit(v: Any, dt: DataType): Long = {
    val scale = dt.asInstanceOf[DecimalType].scale
    val bd = v match {
      case d: java.math.BigDecimal => d
      case d: BigDecimal => d.bigDecimal
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other => throw new IllegalArgumentException(s"$other")
    }
    try bd.setScale(scale).unscaledValue().longValueExact()
    catch { case _: ArithmeticException => throw new IllegalArgumentException(s"$v") }
  }

  private[sources] def toBytesLit(v: Any): Array[Byte] = v match {
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case b: Array[Byte] => b
    case u: org.apache.spark.unsafe.types.UTF8String => u.getBytes
    case other => throw new IllegalArgumentException(s"$other")
  }

  // unsigned lexicographic — the ordering UTF8String comparison uses
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Smallest byte string greater than every string with prefix p (the
    * prefix incremented at its last non-0xFF byte), or null if none.
    */
  private def prefixUpperBound(p: Array[Byte]): Array[Byte] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) null
    else {
      val t = java.util.Arrays.copyOf(p, i + 1)
      t(i) = (t(i) + 1).toByte
      t
    }
  }

  private[sources] def toLongLit(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case b: Boolean => if (b) 1L else 0L
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case other => throw new IllegalArgumentException(s"$other")
  }

  private def toDoubleLit(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case other => throw new IllegalArgumentException(s"$other")
  }

  /** True iff stats PROVE no row in the group can match the filter. */
  def canSkip(schema: StructType, rg: BtrFile.RowGroupMeta, f: Filter): Boolean = {
    def col(attr: String): Option[(BtrFile.ColumnChunkMeta, DataType)] = {
      val idx = schema.fieldNames.indexOf(attr)
      if (idx >= 0) {
        // schema evolution: a file written before this column existed
        // reads it as all null — a stats-free meta with nullCount ==
        // numRows
        if (idx >= rg.columns.length)
          return Some((BtrFile.ColumnChunkMeta(0, 0, rg.numRows, 0, 0, 0, 0, 0),
            schema.fields(idx).dataType))
        return Some((rg.columns(idx), schema.fields(idx).dataType))
      }
      // struct leaf ("rec.a", "rec.prov.url"): v7+ footers carry
      // per-leaf stat entries (recursive since v8); leaf nullCounts
      // count struct-null rows, matching SQL semantics. Files without
      // leafStats at some level simply don't skip.
      nestedPath(schema, attr).flatMap { case (pi, path, dt) =>
        if (pi >= rg.columns.length)
          // schema evolution: the whole struct column post-dates this
          // file — every leaf reads all-null
          Some((BtrFile.ColumnChunkMeta(0, 0, rg.numRows, 0, 0, 0, 0, 0), dt))
        else {
          var m = rg.columns(pi)
          var ok = true
          var allNull = false // leaf post-dates this file (leaf evolution)
          path.foreach { li =>
            if (ok && !allNull) {
              if (m.leafStats == null) ok = false
              // a recorded leafStats SHORTER than the leaf index proves
              // the file's struct lacks this leaf — it reads all-null
              else if (li >= m.leafStats.length) allNull = true
              else m = m.leafStats(li)
            }
          }
          if (!ok) None
          else if (allNull)
            Some((BtrFile.ColumnChunkMeta(0, 0, rg.numRows, 0, 0, 0, 0, 0), dt))
          else Some((m, dt))
        }
      }
    }
    // null never satisfies a value comparison: an all-null chunk skips
    // every EqualTo/range/In/startsWith probe regardless of stats
    def allNull(m: BtrFile.ColumnChunkMeta): Boolean =
      rg.numRows > 0 && m.nullCount == rg.numRows
    try f match {
      case IsNull(a) => col(a).exists { case (m, _) => m.nullCount == 0 }
      case IsNotNull(a) => col(a).exists { case (m, _) => m.nullCount == rg.numRows }
      case EqualTo(a, v) =>
        col(a).exists { case (m, dt) =>
          allNull(m) || outside(m, dt, v) || bloomExcludes(m, dt, v)
        }
      // `col <=> null` matches only null rows; `col <=> v` matches the
      // same rows as EqualTo (null rows never match a non-null literal)
      case EqualNullSafe(a, null) => col(a).exists { case (m, _) => m.nullCount == 0 }
      case EqualNullSafe(a, v) =>
        col(a).exists { case (m, dt) =>
          allNull(m) || outside(m, dt, v) || bloomExcludes(m, dt, v)
        }
      case GreaterThan(a, v) =>
        col(a).exists { case (m, dt) => allNull(m) || maxBelowOrEq(m, dt, v, strict = true) }
      case GreaterThanOrEqual(a, v) =>
        col(a).exists { case (m, dt) => allNull(m) || maxBelowOrEq(m, dt, v, strict = false) }
      case LessThan(a, v) =>
        col(a).exists { case (m, dt) => allNull(m) || minAboveOrEq(m, dt, v, strict = true) }
      case LessThanOrEqual(a, v) =>
        col(a).exists { case (m, dt) => allNull(m) || minAboveOrEq(m, dt, v, strict = false) }
      case In(a, vs) =>
        col(a).exists { case (m, dt) =>
          allNull(m) ||
            vs.forall(v => outside(m, dt, v) || bloomExcludes(m, dt, v))
        }
      case StringStartsWith(a, p) =>
        // value starts with p  ⟺  p <= value < increment(p); skip when the
        // whole group provably sits outside that window
        col(a).exists { case (m, _) =>
          allNull(m) || m.statsKind == 3 && {
            val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val belowAll = m.maxBytes != null && cmpBytes(m.maxBytes, pb) < 0
            val aboveAll = m.minBytes != null && {
              val ub = prefixUpperBound(pb)
              ub != null && cmpBytes(m.minBytes, ub) >= 0
            }
            belowAll || aboveAll
          }
        }
      case And(l, r) => canSkip(schema, rg, l) || canSkip(schema, rg, r)
      case Or(l, r) => canSkip(schema, rg, l) && canSkip(schema, rg, r)
      // NOT: no row matches Not(leaf) when every row evaluates the leaf
      // to TRUE (all-satisfy stats proof) or to NULL (all-null chunk) —
      // null rows match neither a value leaf nor its negation. <=> never
      // evaluates to NULL, so only the all-TRUE proof applies, with the
      // null-count conditions <=> itself needs.
      case Not(inner) => inner match {
        case And(l, r) => canSkip(schema, rg, Or(Not(l), Not(r)))
        case Or(l, r) => canSkip(schema, rg, And(Not(l), Not(r)))
        case Not(g) => canSkip(schema, rg, g)
        case IsNull(a) => canSkip(schema, rg, IsNotNull(a))
        case IsNotNull(a) => canSkip(schema, rg, IsNull(a))
        case EqualNullSafe(a, null) => col(a).exists { case (m, _) => m.nullCount == rg.numRows }
        case EqualNullSafe(a, v) =>
          col(a).exists { case (m, dt) =>
            m.nullCount == 0 && statsAllSatisfy(dt, m, EqualTo(a, v))
          }
        case _ =>
          // null rows match neither the leaf nor its negation, so proving
          // every NON-NULL row satisfies the leaf (or that none exist)
          // already proves no row matches Not(leaf)
          inner.references.length == 1 && col(inner.references(0)).exists { case (m, dt) =>
            allNull(m) || statsAllSatisfy(dt, m, inner)
          }
      }
      case _: AlwaysFalse => true
      case _ => false
    } catch { case _: IllegalArgumentException => false }
  }

  /** True iff stats PROVE every live row in the group matches the filter —
    * the dual of [[canSkip]], powering metadata-only DELETE / overwrite-by-
    * filter: a file is droppable without decoding exactly when every row
    * group allMatches the predicate. Conservative: false means "cannot
    * prove", never "proved not".
    */
  def allMatch(schema: StructType, rg: BtrFile.RowGroupMeta, f: Filter): Boolean = {
    def col(attr: String): Option[(BtrFile.ColumnChunkMeta, DataType)] = {
      val idx = schema.fieldNames.indexOf(attr)
      if (idx < 0) None
      else if (idx >= rg.columns.length)
        // pre-widening file: the column reads as all null
        Some((BtrFile.ColumnChunkMeta(0, 0, rg.numRows, 0, 0, 0, 0, 0),
          schema.fields(idx).dataType))
      else Some((rg.columns(idx), schema.fields(idx).dataType))
    }
    def noNulls(m: BtrFile.ColumnChunkMeta): Boolean = m.nullCount == 0
    def leafAll(a: String, leaf: Filter): Boolean =
      col(a).exists { case (m, dt) => noNulls(m) && statsAllSatisfy(dt, m, leaf) }
    if (rg.numRows == 0) return true
    try f match {
      case IsNull(a) => col(a).exists { case (m, _) => m.nullCount == rg.numRows }
      case IsNotNull(a) => col(a).exists { case (m, _) => noNulls(m) }
      case EqualNullSafe(a, null) => col(a).exists { case (m, _) => m.nullCount == rg.numRows }
      case leaf @ EqualTo(a, _) => leafAll(a, leaf)
      case leaf @ EqualNullSafe(a, _) => leafAll(a, leaf)
      case leaf @ GreaterThan(a, _) => leafAll(a, leaf)
      case leaf @ GreaterThanOrEqual(a, _) => leafAll(a, leaf)
      case leaf @ LessThan(a, _) => leafAll(a, leaf)
      case leaf @ LessThanOrEqual(a, _) => leafAll(a, leaf)
      case In(a, vs) => vs.exists(v => v != null && allMatch(schema, rg, EqualTo(a, v)))
      case leaf @ StringStartsWith(a, _) => leafAll(a, leaf)
      case And(l, r) => allMatch(schema, rg, l) && allMatch(schema, rg, r)
      case Or(l, r) => allMatch(schema, rg, l) || allMatch(schema, rg, r)
      // NOT: De-Morgan down to leaves. A value leaf's negation holds on
      // every row only when the column is null-free (a null evaluates the
      // comparison to NULL, so the row matches neither the leaf nor its
      // negation) AND no row satisfies the leaf (canSkip proof). <=> never
      // evaluates to NULL, so its negation needs only the canSkip proof.
      case Not(inner) => inner match {
        case And(l, r) => allMatch(schema, rg, Or(Not(l), Not(r)))
        case Or(l, r) => allMatch(schema, rg, And(Not(l), Not(r)))
        case Not(g) => allMatch(schema, rg, g)
        case IsNull(a) => allMatch(schema, rg, IsNotNull(a))
        case IsNotNull(a) => allMatch(schema, rg, IsNull(a))
        case _: EqualNullSafe => canSkip(schema, rg, inner)
        case _ =>
          val refs = inner.references
          refs.length == 1 && col(refs(0)).exists { case (m, _) => noNulls(m) } &&
            canSkip(schema, rg, inner)
      }
      case _: AlwaysTrue => true
      case _ => false
    } catch { case _: IllegalArgumentException => false }
  }

  /** Stats proof that every NON-NULL row satisfies the value predicate
    * (callers add their own null requirement). Equality: min == max == v —
    * sound under string stat truncation (stored min <= true min <= true
    * max <= stored max pins the range to exactly v); float/double equality
    * is never proven (NaN / -0.0 stat ambiguity). Ranges ride the same
    * helpers skipping uses, NaN guards included: GreaterThan-family stays
    * sound with NaN present (NaN orders above everything so NaN rows
    * match), LessThan-family refuses NaN-carrying chunks via the helper.
    */
  private def statsAllSatisfy(dt: DataType, m: BtrFile.ColumnChunkMeta, f: Filter): Boolean = {
    def allEq(v: Any): Boolean = m.statsKind match {
      case 1 =>
        val x = if (dt.isInstanceOf[DecimalType]) decimalLit(v, dt) else toLongLit(v)
        m.minLong == x && m.maxLong == x
      case 3 =>
        val x = toBytesLit(v)
        m.minBytes != null && m.maxBytes != null &&
          cmpBytes(m.minBytes, x) == 0 && cmpBytes(m.maxBytes, x) == 0
      case _ => false
    }
    f match {
      case EqualTo(_, v) => allEq(v)
      case EqualNullSafe(_, v) if v != null => allEq(v)
      case GreaterThan(_, v) => minAboveOrEq(m, dt, v, strict = false)
      case GreaterThanOrEqual(_, v) => minAboveOrEq(m, dt, v, strict = true)
      case LessThan(_, v) => maxBelowOrEq(m, dt, v, strict = false)
      case LessThanOrEqual(_, v) => maxBelowOrEq(m, dt, v, strict = true)
      case In(_, vs) => vs.exists(v => v != null && allEq(v))
      case StringStartsWith(_, p) =>
        // every value in [p, increment(p)) starts with p (byte order); a
        // null upper bound (all-0xFF prefix) means every string >= p does
        m.statsKind == 3 && m.minBytes != null && m.maxBytes != null && {
          val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val ub = prefixUpperBound(pb)
          cmpBytes(m.minBytes, pb) >= 0 && (ub == null || cmpBytes(m.maxBytes, ub) < 0)
        }
      case _ => false
    }
  }

  /** Equality pruning beyond min/max: the chunk's split-block bloom
    * proves the value absent. Hash domains mirror the writer
    * (ChunkCodec.encode): int family / unscaled decimal → hashLong of
    * the stored long; string/binary → hashBytes of the raw bytes.
    * Double/float chunks never store blooms (statsKind 2), so they fall
    * through to `false` via the statsKind guard.
    */
  private def bloomExcludes(m: BtrFile.ColumnChunkMeta, dt: DataType, v: Any): Boolean =
    m.bloom != null && (m.statsKind match {
      case 1 =>
        val x = if (dt.isInstanceOf[DecimalType]) decimalLit(v, dt) else toLongLit(v)
        !graft.format.Bloom.mightContain(m.bloom, graft.format.Bloom.hashLong(x))
      case 3 =>
        !graft.format.Bloom.mightContain(m.bloom, graft.format.Bloom.hashBytes(toBytesLit(v)))
      case _ => false
    })

  // value strictly outside [min,max]
  private def outside(m: BtrFile.ColumnChunkMeta, dt: DataType, v: Any): Boolean =
    m.statsKind match {
      case 1 =>
        val x = if (dt.isInstanceOf[DecimalType]) decimalLit(v, dt) else toLongLit(v)
        x < m.minLong || x > m.maxLong
      case 2 =>
        val x = toDoubleLit(v)
        x < m.minDouble || x > m.maxDouble
      case 3 =>
        val x = toBytesLit(v)
        // stored min <= true min and stored max >= true max (truncation is
        // conservative), so strictly-outside is still a proof
        (m.minBytes != null && cmpBytes(x, m.minBytes) < 0) ||
          (m.maxBytes != null && cmpBytes(x, m.maxBytes) > 0)
      case _ => false
    }

  // skip "col > v": true when max <= v (strict) or max < v (non-strict)
  private def maxBelowOrEq(m: BtrFile.ColumnChunkMeta, dt: DataType, v: Any, strict: Boolean): Boolean =
    m.statsKind match {
      case 1 =>
        val x = if (dt.isInstanceOf[DecimalType]) decimalLit(v, dt) else toLongLit(v)
        if (strict) m.maxLong <= x else m.maxLong < x
      case 2 if !m.hasNaN =>
        // hasNaN guard: footer max excludes NaN, but Spark orders NaN above
        // every value — a chunk [NaN, 10..20] under `col > 25` still has
        // matching NaN rows, so its max proves nothing (treat as +∞)
        val x = toDoubleLit(v)
        if (strict) m.maxDouble <= x else m.maxDouble < x
      case 3 if m.maxBytes != null =>
        val x = toBytesLit(v)
        if (strict) cmpBytes(m.maxBytes, x) <= 0 else cmpBytes(m.maxBytes, x) < 0
      case _ => false
    }

  // skip "col < v": true when min >= v (strict) or min > v (non-strict).
  // Sound even when the chunk contains NaN: NaN orders above everything,
  // so NaN rows can never satisfy a LessThan-family filter (an all-NaN
  // chunk stores NaN min, whose comparisons are all false — no skip).
  private def minAboveOrEq(m: BtrFile.ColumnChunkMeta, dt: DataType, v: Any, strict: Boolean): Boolean =
    m.statsKind match {
      case 1 =>
        val x = if (dt.isInstanceOf[DecimalType]) decimalLit(v, dt) else toLongLit(v)
        if (strict) m.minLong >= x else m.minLong > x
      case 2 =>
        val x = toDoubleLit(v)
        if (strict) m.minDouble >= x else m.minDouble > x
      case 3 if m.minBytes != null =>
        val x = toBytesLit(v)
        if (strict) cmpBytes(m.minBytes, x) >= 0 else cmpBytes(m.minBytes, x) > 0
      case _ => false
    }
}
