package graft.sources

import graft.format._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file compaction (OPTIMIZE) for btr tables — the maintenance job
  * that keeps long-running streaming sinks (one file per epoch × partition,
  * BtrWrite) and many-task batch writes from degrading scan planning to
  * per-file footer reads. The reference packs chunks into ≥target-size
  * ColumnPart files at write time for the same reason
  * (/root/reference/btrblocks/storage/Chunk.hpp:95-113).
  *
  * Files merge at the FOOTER level: a .btr file is
  * [header][row-group chunk blobs][footer], and chunk blobs are
  * position-independent (the footer holds absolute offsets), so a merge
  * streams each source's data span verbatim and writes one merged footer
  * with offsets shifted by each span's placement — no decode, no
  * re-encode, no row movement. Row-group granularity (and therefore all
  * chunk statistics) is preserved exactly.
  *
  * Parallelism: one Spark task per output bin streams the bytes; the
  * driver then swaps each bin (rename merged file visible, delete its
  * sources) — metadata-only operations. The swap is crash-atomic to
  * readers via a swap journal ([[graft.format.BtrTableMeta.writeSwapJournal]]):
  * published before the first rename, it makes listings hide a bin's
  * sources once its merged file is visible and hide merged files until
  * then, so a crash at any point exposes neither duplicated nor missing
  * rows; the next compact (or
  * [[graft.format.BtrTableMeta.completeSwapJournals]]) converges the
  * directory. Completed swaps leave a done-marker (`_btr_swapdone_*.json`)
  * so a streaming reader (BtrMicroBatchStream) tailing the table maps
  * superseded sources to their merged file and stays exactly-once — no
  * consumer maintenance window. Markers are tiny; bound their count with
  * [[graft.format.BtrTableMeta.vacuumSwapMarkers]], sized to the longest
  * consumer outage tolerated (a stream that skips a batch admits merged
  * rows twice only if every marker covering them was vacuumed first).
  * A compaction that replaces files a stream has only PARTIALLY emitted
  * makes the stream fail loudly (exactly-once is unrecoverable at file
  * granularity) — compact behind the stream's frontier.
  */
object BtrCompact {

  final case class Bin(dirUri: String, files: Seq[String])

  private def footerSpan(fs: FileSystem, file: Path, fileLen: Long): (Long, Int) = {
    val in = BtrFs.open(fs, file)
    try {
      val tr = new BufReader(BtrFs.readAt(in, fileLen - 8L, 8))
      val footerLen = tr.getInt()
      require(footerLen > 0 && footerLen <= fileLen - 16, s"bad footerLen $footerLen in $file")
      (fileLen - 8L - footerLen, footerLen)
    } finally in.close()
  }

  /** Merge one bin into a single file; returns the temp name to swap in. */
  private def mergeBin(bin: Bin, tmpName: String): Unit = {
    val dir = new Path(new java.net.URI(bin.dirUri))
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val out = fs.create(new Path(dir, tmpName), true)
    try {
      out.write(BtrFile.Magic)
      out.writeInt(BtrFile.Version)
      var cursor = 8L
      val groups = scala.collection.mutable.ArrayBuffer.empty[BtrFile.RowGroupMeta]
      var numCols = -1
      var colTags: Array[Int] = null
      // NDV sketch union across sources: elementwise max when every
      // source carries registers at one precision, else dropped (a v6
      // reader treats an absent sketch as "NDV unknown" — conservative)
      var ndvP = -1
      var colNdv: Array[Array[Byte]] = null
      val buf = new Array[Byte](1 << 20)
      bin.files.foreach { name =>
        val src = new Path(dir, name)
        val len = fs.getFileStatus(src).getLen
        val footer = BtrFile.readFooter(fs, src, len)
        val cols = footer.rowGroups.headOption.map(_.columns.length).getOrElse(0)
        if (numCols < 0) { numCols = cols; colTags = footer.colTags }
        else require(cols == 0 || cols == numCols,
          s"btr compact: column count mismatch in $src ($cols vs $numCols)")
        // bins are keyed by tag signature, so a mismatch here is a bug —
        // splicing narrow and widened chunks under one tag array would
        // mis-decode every widened chunk
        if (cols > 0 && colTags != null && footer.colTags != null)
          require(java.util.Arrays.equals(footer.colTags, colTags),
            s"btr compact: physical type mismatch in $src " +
              s"(${footer.colTags.mkString(",")} vs ${colTags.mkString(",")})")
        if (ndvP == -1) {
          ndvP = footer.ndvP
          colNdv =
            if (footer.colNdv == null) null
            else footer.colNdv.map(r => if (r == null) null else r.clone())
        } else if (ndvP != 0) {
          if (footer.ndvP != ndvP || footer.colNdv == null ||
            colNdv == null || footer.colNdv.length != colNdv.length) {
            ndvP = 0; colNdv = null
          } else {
            var nc = 0
            while (nc < colNdv.length) {
              if (colNdv(nc) != null && footer.colNdv(nc) != null)
                Hll.merge(colNdv(nc), footer.colNdv(nc))
              else colNdv(nc) = null
              nc += 1
            }
          }
        }
        val (footerStart, _) = footerSpan(fs, src, len)
        // stream the data span [8, footerStart) verbatim
        val delta = cursor - 8L
        val in = BtrFs.open(fs, src)
        try {
          var pos = 8L
          in.seek(pos)
          while (pos < footerStart) {
            val n = in.read(buf, 0, math.min(buf.length.toLong, footerStart - pos).toInt)
            require(n > 0, s"btr compact: short read in $src at $pos")
            out.write(buf, 0, n)
            pos += n
          }
        } finally in.close()
        cursor += footerStart - 8L
        footer.rowGroups.foreach { rg =>
          groups += BtrFile.RowGroupMeta(rg.numRows,
            rg.columns.map(c => c.copy(offset = c.offset + delta)))
        }
      }
      val fb = new BufWriter(1 << 16)
      BtrFile.writeFooter(fb,
        BtrFile.Footer(groups.toArray, colTags, math.max(ndvP, 0), colNdv),
        math.max(numCols, 0))
      out.write(fb.backing, 0, fb.pos)
    } finally out.close()
  }

  /** OPTIMIZE with re-clustering: read the table, range-cluster rows on
    * `cols` (BtrLayout semantics — disjoint per-file AND per-row-group
    * min/max windows) and atomically replace the data files. Heavier than
    * [[compact]] (full decode + re-encode) but restores chunk-skipping
    * locality after many unordered appends. The rewrite stages under a
    * `_`-prefixed subdirectory that scans never list, then swaps:
    * staged files move in (names unique per write), old files delete —
    * same crash posture as [[compact]] (re-run converges; no loss).
    * Partitioned tables cluster WITHIN their directories (the partition
    * columns lead the range ordering and the staged write partitions by
    * them — directory layout preserved); `where` scopes the rewrite to
    * matching partitions (predicate over partition columns only).
    */
  def rewriteClustered(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      where: Option[String] = None,
      // test-only race injection (see compact's afterJournal)
      afterJournal: () => Unit = () => ()
  ): (Int, Int) = {
    val partCols = BtrTableMeta.readPartitionCols(
      new Path(path).getFileSystem(BtrTableMeta.hadoopConf()), new Path(path))
    // transform fields lead with their SOURCE column (sorting by ts keeps
    // each ts_days dir contiguous, the same locality identity cols get)
    val leads = partCols.map(c => graft.format.PartitionTransform.parse(c).source)
    val ordered = (leads ++ cols.filterNot(leads.contains)).distinct.toSeq
    rewriteWith(spark, path, targetBytes, where, afterJournal = afterJournal)((df, n) =>
      BtrLayout.clusterBy(df, ordered, n))
  }

  /** OPTIMIZE ZORDER: like [[rewriteClustered]] but interleaving the
    * clustering columns' quantile-bucket bits (BtrLayout.zOrderBy), so
    * chunk skipping prunes on EVERY clustered dimension instead of just
    * the leading one. Same staging + journaled-swap crash posture. On a
    * partitioned table the partition columns lead the range ordering
    * (z-values interleave only the requested data columns).
    */
  def rewriteZOrdered(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      bits: Int = 8,
      where: Option[String] = None
  ): (Int, Int) = {
    val partCols = BtrTableMeta.readPartitionCols(
      new Path(path).getFileSystem(BtrTableMeta.hadoopConf()), new Path(path))
    val leads = partCols.map(c => graft.format.PartitionTransform.parse(c).source)
    rewriteWith(spark, path, targetBytes, where)((df, n) =>
      BtrLayout.zOrderBy(df, cols, n, bits, prefix = leads))
  }

  /** Masked-row fraction above which `OPTIMIZE ... APPLY PURGE`
    * rewrites a file, absent a per-table `btr.dvPurgeThreshold`. 10%
    * mirrors common REORG guidance: below it the masks cost less than
    * the rewrite would.
    */
  val DefaultDvPurgeThreshold: Double = 0.10

  /** Threshold-triggered mask purge (Delta's `REORG ... APPLY (PURGE)`
    * shape): value-level rewrite of ONLY the files whose committed
    * deletion-vector masks cover at least the purge threshold of their
    * rows — their survivors re-write mask-free and the blobs retire;
    * lightly-masked neighbors stay untouched (footer-level byte-merge
    * compaction keeps skipping masked files, so without this the only
    * way to reclaim mask debt was a full table/partition rewrite).
    * Eligibility is O(masked files) metadata I/O: blob headers carry
    * position counts, footers carry row counts, no data is read. This
    * is what keeps rolling DV deletes operable at 100 TB: a nightly
    * `OPTIMIZE t APPLY PURGE [WHERE <hot partitions>]` touches only the
    * files whose debt crossed the line. Returns (filesRewritten,
    * filesAfter).
    */
  def purgeMasked(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      where: Option[String] = None,
      // test-only race injection (see compact's afterJournal)
      afterJournal: () => Unit = () => ()
  ): (Int, Int) = {
    import graft.format.DeletionVector
    val root = new Path(path)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    val qroot = fs.makeQualified(root)
    val meta = BtrTableMeta.read(fs, root)
    require(!meta.schema.fieldNames.contains(BtrScan.FileMetaCol),
      s"btr APPLY PURGE: the table has a data column named ${BtrScan.FileMetaCol}, " +
        "which shadows the file-identity metadata column the purge scopes by")
    val threshold = meta.dvPurgeThreshold.getOrElse(DefaultDvPurgeThreshold)
    val latest = BtrLog.latestVersion(fs, qroot)
    if (latest.isEmpty) return (0, 0)
    val committedDv = BtrLog.resolveSnapshot(fs, qroot, latest.get).files
      .filter(DeletionVector.isDvRel)
    if (committedDv.isEmpty) return (0, 0)
    val rootLen = qroot.toUri.getPath.length + 1
    val entriesByRel = BtrTableMeta.listDataFilesWithPartitions(fs, qroot)
      .map(e => e.path.toUri.getPath.substring(rootLen) -> e).toMap
    val byTarget: Map[String, Seq[String]] = committedDv
      .flatMap(r => DeletionVector.targetOf(r).map(_ -> r))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    val heavy: Set[String] = byTarget.flatMap { case (target, blobRels) =>
      entriesByRel.get(target).flatMap { entry =>
        // masks never overlap (a delta writer only sees VISIBLE rows),
        // so summed position counts equal the union mask size
        val masked = blobRels.map(r =>
          DeletionVector.readBlob(fs, new Path(qroot, r)).posCount).sum
        val rows = BtrFooters.readAllIndexed(fs, qroot, Array(entry))
          .headOption.map(_._2.rowGroups.map(_.numRows.toLong).sum).getOrElse(0L)
        if (rows > 0 && masked.toDouble / rows >= threshold) Some(target) else None
      }
    }.toSet
    if (heavy.isEmpty) return (0, 0)
    // identity layout: one read split per purged file becomes one staged
    // file — no shuffle, locality preserved, untouched files unread
    rewriteWith(spark, path, targetBytes, where, scopeToRels = Some(heavy),
      afterJournal = afterJournal)((df, _) => df)
  }

  /** Evaluate a partition predicate once per listed file against its
    * TYPED directory values (full Spark expression power). Predicates
    * referencing non-partition columns fail analysis loudly. Shared by
    * `OPTIMIZE ... WHERE` compaction and partition-scoped rewrites.
    */
  def partitionPredicateKeep(spark: SparkSession, path: String,
      pred: String): BtrTableMeta.DataFileEntry => Boolean = {
    import org.apache.spark.sql.types._
    val root = new Path(path)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    val meta = BtrTableMeta.read(fs, root)
    val partCols = meta.partitionCols
    require(partCols.nonEmpty,
      "btr: a partition predicate needs a partitioned table")
    val schema = meta.schema
    // transform fields surface their DERIVED directory value as a string
    // column named after the dir (`WHERE ts_days >= '2026-08-15'` — ISO
    // values compare lexicographically in time order)
    val fields = partCols.map { c =>
      val f = graft.format.PartitionTransform.parse(c)
      if (f.isIdentity) schema(schema.fieldIndex(f.source))
      else StructField(f.dirName, StringType)
    }
    def external(dt: DataType, v: String): Any = {
      if (v == BtrTableMeta.NullPartition) return null
      dt match {
        case StringType => v
        case IntegerType => v.toInt
        case LongType => v.toLong
        case ShortType => v.toShort
        case ByteType => v.toByte
        case BooleanType => v.toBoolean
        case DateType => java.sql.Date.valueOf(java.time.LocalDate.parse(v))
        case TimestampType => java.sql.Timestamp.from(java.time.Instant.parse(v))
        case TimestampNTZType => java.time.LocalDateTime.parse(v)
        case other => throw new UnsupportedOperationException(
          s"btr partition predicate: partition column type $other")
      }
    }
    val entries = BtrTableMeta.listDataFilesWithPartitions(fs, fs.makeQualified(root))
    val rows: Seq[org.apache.spark.sql.Row] = entries.toSeq.map { e =>
      org.apache.spark.sql.Row.fromSeq(e.path.toString +: fields.map(f =>
        external(f.dataType,
          e.partitionValues.getOrElse(f.name, BtrTableMeta.NullPartition))))
    }
    val dfSchema = StructType(
      StructField("__file", StringType, nullable = false) +:
        fields.map(f => f.copy(nullable = true)))
    val keepSet = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), dfSchema)
      .filter(org.apache.spark.sql.functions.expr(pred))
      .select("__file").collect().map(_.getString(0)).toSet
    e => keepSet.contains(e.path.toString)
  }

  private def rewriteWith(
      spark: SparkSession,
      path: String,
      targetBytes: Long,
      where: Option[String] = None,
      // file-scoped rewrite (APPLY PURGE): only these table-root-relative
      // data files rewrite; the read is narrowed to exactly them through
      // the `_file` metadata column (planning prunes every other file)
      scopeToRels: Option[Set[String]] = None,
      // test-only race injection: between the journal publish and the
      // staged renames (the lease-skew guard's window)
      afterJournal: () => Unit = () => ()
  )(layout: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): (Int, Int) = {
    val root = new Path(path)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    val meta = BtrTableMeta.read(fs, root)
    val partCols = meta.partitionCols
    require(where.isEmpty || partCols.nonEmpty,
      "btr rewrite WHERE: a partition predicate needs a partitioned table")
    graft.format.BtrFs.requireCommitCapable(fs, root)
    BtrTableMeta.completeSwapJournals(fs, root) // converge a crashed swap first
    BtrDvOps.convergePending(fs, root)
    // rewrite ONLY the committed snapshot's files (same rule as compact():
    // a concurrent append's task-committed files are listing-visible
    // before that append's driver commit; swallowing one would make the
    // append fail its conflict check and a retry would duplicate rows).
    // The read pins the same snapshot so the row set and the removed
    // file set agree exactly.
    val qrootV = fs.makeQualified(root)
    val latestV = BtrLog.latestVersion(fs, qrootV)
    val rootLenV = qrootV.toUri.getPath.length + 1
    def relOfPath(p: Path): String = p.toUri.getPath.substring(rootLenV)
    val allListed = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    val listedRels = allListed.map(e => relOfPath(e.path)).toSet
    // the pinned-snapshot protection only applies when the log COVERS the
    // listing (normal case): a crash-converged swap can leave the log
    // referencing files the convergence replaced, and pinning to that
    // stale snapshot would resurrect or lose rows — fall back to the
    // live read there (the next full checkpoint re-syncs the log).
    // Deletion-vector blob rels are excluded BEFORE the coverage check:
    // they live under _btr_dv/, never in the data-file listing, so
    // leaving them in would disable the protection on any table with a
    // live mask — and an in-flight append's task files would then be
    // swallowed by the rewrite (rows kept) while the append's own
    // conflict check aborts it, advising a retry that duplicates rows
    val committedSet: Option[Set[String]] = latestV
      .map(v => BtrLog.resolveSnapshot(fs, qrootV, v).fileSet
        .filterNot(graft.format.DeletionVector.isDvRel))
      .filter(_.subsetOf(listedRels))
    // WHERE scopes the rewrite to matching partitions: the predicate
    // evaluates over typed DIRECTORY values, and the pinned read below
    // filters on the same predicate — partition pruning makes them
    // select exactly the same rows (predicates over data columns fail
    // the keep evaluation's analysis loudly)
    val keep = where.map(partitionPredicateKeep(spark, path, _))
      .getOrElse((_: BtrTableMeta.DataFileEntry) => true)
    val entries = allListed.filter(e =>
      committedSet.forall(_.contains(relOfPath(e.path)))).filter(keep)
      .filter(e => scopeToRels.forall(_.contains(relOfPath(e.path))))
    val before = entries.length
    if (before == 0) return (0, 0)
    // per-invocation staging dir: concurrent partition-scoped rewrites
    // must not clobber each other's staged files; a CRASHED rewrite's
    // staging (invisible to scans) sweeps once it ages past the
    // maintenance lease — a younger one may belong to a live worker
    val staging = new Path(root, s"_rewrite_staging_${BtrWriteIds.newWriteId()}")
    locally {
      val cutoff = System.currentTimeMillis() - BtrTableMeta.MaintenanceLeaseMs
      if (fs.exists(root)) fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_rewrite_staging") &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    }
    val numFiles = math.max(1, math.ceil(entries.map(_.len).sum.toDouble / targetBytes).toInt)
    val df0 =
      if (committedSet.isDefined && allListed.exists(e =>
        !committedSet.get.contains(relOfPath(e.path))))
        // some listed files are uncommitted (an in-flight append's task
        // files): read exactly the committed snapshot so the row set and
        // the removed file set agree, leaving the in-flight files alone
        spark.read.format("btr").option("btr.versionAsOf", latestV.get.toString).load(path)
      else spark.read.format("btr").load(path)
    // WHERE row-scoping: on an identity-partitioned table the predicate
    // is a data-column filter and partition pruning keeps the read
    // O(selected dirs). On a TRANSFORM layout the documented predicates
    // reference DERIVED dir fields (`ts_days >= '2026-08-15'`) that are
    // not DataFrame columns — expr(where) would fail analysis — so the
    // rewrite scopes by FILES instead: the keep evaluation above already
    // selected exactly the matching files over typed dir values, and
    // partition-aligned predicates match whole files by construction.
    val transformPartitioned =
      partCols.exists(c => !graft.format.PartitionTransform.parse(c).isIdentity)
    val df1 = where match {
      case Some(w) if !transformPartitioned =>
        df0.filter(org.apache.spark.sql.functions.expr(w))
      case _ => df0
    }
    // `_file` is a per-file constant to the planner: the IN filter prunes
    // every out-of-scope file before any data I/O, so a purge of K files
    // costs O(K) reads on a million-file table
    val df = if (scopeToRels.isDefined || (where.isDefined && transformPartitioned))
      df1.filter(org.apache.spark.sql.functions
        .col(BtrScan.FileMetaCol).isin(entries.map(_.path.toString).toSeq: _*))
    else df1
    // the rewrite must keep the table's recorded geometry — defaulting
    // here would silently inflate a small-block table's row groups and
    // destroy the chunk-skipping granularity the rewrite exists to restore
    // the staging write must keep the table's SLOT layout (column
    // mapping): a plain overwrite into the empty staging dir would write
    // only the logical columns, and after the swap the table meta's
    // tombstone slots would mis-map every rewritten file. Seeding the
    // staging dir with the table meta and APPENDING makes the writer
    // compute the same tombstone slot projection the final location
    // expects (identity for unmapped tables — meta equals the df schema).
    BtrTableMeta.write(fs, staging, meta.schema, meta.blockSize, meta.cascade, partCols)
    // partitioning comes from the staging dir's seeded meta (the write
    // builder reads it — partitionBy can't express transform specs), and
    // distribution=none keeps the layout closure's EXACT shape: the
    // default write distribution would stack a second shuffle on top of
    // the clustering range partition the rewrite just computed
    layout(df, numFiles)
      .write.format("btr").mode("append")
      .option("btr.blockSize", meta.blockSize).option("btr.maxCascadeDepth", meta.cascade)
      .option("btr.write.distribution", "none")
      .save(staging.toString)
    // swap under a journal: readers see the OLD file set until every
    // staged file is renamed in, then the old set is superseded at once —
    // a crash mid-swap never exposes a mix (staged names carry a fresh
    // writeId, so they can't collide with existing ones)
    val staged = BtrTableMeta.listDataFilesWithPartitions(fs, staging)
    // optimistic-concurrency check BEFORE the journal publishes: the
    // rewrite's row images came from the pinned snapshot — if a
    // concurrent DELETE/rewrite removed one of its files since, swapping
    // our staged files in would silently resurrect the superseded rows.
    val qstaging = fs.makeQualified(staging)
    val stagingLen = qstaging.toUri.getPath.length + 1
    val stagedRels = staged.map(e => e.path.toUri.getPath.substring(stagingLen)).toSeq
    val srcRelsSeq = entries.map(e => relOfPath(e.path)).toSeq
    locally {
      val visibleNow = BtrTableMeta.listDataFilesWithPartitions(fs, root)
        .map(e => relOfPath(e.path)).toSet
      val gone = srcRelsSeq.filterNot(visibleNow.contains)
      if (gone.nonEmpty) {
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — this rewrite read " +
            s"${gone.length} file(s) a concurrent commit has since removed or " +
            s"rewritten (e.g. ${gone.take(3).mkString(", ")}); retry the rewrite.")
      }
      // the rewrite's read applied the PINNED snapshot's deletion
      // vectors; a merge-on-read DELETE committed against the sources
      // since would be silently dropped by the swap — fail loudly
      if (BtrTableMeta.readDeletionVectors(fs, root)) {
        import graft.format.DeletionVector
        val srcRels = srcRelsSeq.toSet
        def dvAt(v: Option[Long]): Set[String] = v.map(x =>
          BtrLog.resolveSnapshot(fs, qrootV, x).files.filter(DeletionVector.isDvRel)
            .filter(r => DeletionVector.targetOf(r).exists(srcRels.contains)).toSet)
          .getOrElse(Set.empty)
        if (dvAt(BtrLog.latestVersion(fs, qrootV)) != dvAt(latestV)) {
          fs.delete(staging, true)
          throw new IllegalStateException(
            s"btr: concurrent commit conflict at $root — deletion vectors over " +
              "this rewrite's source files changed after its scan (a concurrent " +
              "merge-on-read DELETE); retry the rewrite.")
        }
      }
    }
    // a rewritten source's blobs go with it: the output holds survivors
    // only, and the masks reference ordinals of the dying incarnation
    val srcBlobRels = graft.format.DeletionVector.blobRelsForTargets(fs, qrootV,
      srcRelsSeq.toSet)
    // ONE journal group, rel paths as names (Path resolution nests
    // through partition dirs) — the whole rewrite flips together.
    // Publish-then-recheck: the observer of a concurrent maintenance
    // journal over shared sources yields before renaming anything
    val rewriteId = java.util.UUID.randomUUID().toString.substring(0, 8)
    val myJournal =
      try BtrTableMeta.publishSwapJournalChecked(fs, root, rewriteId,
        Seq(BtrTableMeta.SwapGroup("", stagedRels, srcRelsSeq ++ srcBlobRels)))
      catch {
        case e: IllegalStateException => fs.delete(staging, true); throw e
      }
    // masks re-check AFTER the journal is visible (same reasoning as
    // compact()): a DV commit landing between the pre-publish check and
    // the publish saw no journal — look again now that ours is visible
    locally {
      val srcSet = srcRelsSeq.toSet
      val maskedNow = (graft.format.DeletionVector
        .blobRelsForTargets(fs, qrootV, srcSet) ++
        BtrTableMeta.pendingBlobFinals(fs, root, myJournal.getName)
          .filter(r => graft.format.DeletionVector.targetOf(r).exists(srcSet.contains)))
        .filterNot(srcBlobRels.toSet.contains)
      if (maskedNow.nonEmpty) {
        fs.delete(myJournal, false)
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — a merge-on-read commit " +
            s"put deletion vectors on ${maskedNow.size} of this rewrite's source " +
            "file(s) (post-publish); this writer yielded before renaming " +
            "anything. Nothing was published; retry the rewrite.")
      }
    }
    afterJournal()
    staged.foreach { e =>
      val rel = e.path.toUri.getPath.substring(stagingLen)
      val dst = new Path(root, rel)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(e.path, dst))
        throw new java.io.IOException(s"btr rewrite: rename ${e.path} into $root failed")
    }
    // lease-skew guard: if a convergence pass treated this worker as
    // crashed (a stall past MaintenanceLeaseMs, or sweeper clock skew)
    // it rolled the journal back MID-RENAME, deleting finals already in;
    // deleting the sources now would lose those rows. All finals are in
    // at this point, so any convergence from here on goes FORWARD (it
    // does exactly the source-deletes below — idempotent); only a
    // missing journal means a rollback raced the rename loop: withdraw
    // and yield with the sources authoritative.
    if (!fs.exists(myJournal)) {
      // one group: the done-marker means the pass carried the whole swap
      // forward (committed; sources already removed) — continue. No
      // marker means a rollback: withdraw the outputs and yield.
      val converged = BtrTableMeta.readDoneSwapJournals(fs, root)
        .exists(_._1.getName == s"_btr_swapdone_$rewriteId.json")
      if (!converged) {
        stagedRels.foreach(rel => fs.delete(new Path(root, rel), false))
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — this rewrite's swap journal " +
            "was rolled back mid-rename (a convergence pass judged the worker " +
            "crashed past the maintenance lease); its outputs were withdrawn and " +
            "the sources remain authoritative. Retry the rewrite.")
      }
    }
    locally {
      val retain = BtrTableMeta.readRetainRemoved(fs, root)
      (srcRelsSeq ++ srcBlobRels)
        .foreach(rel => graft.format.BtrRetention.removeDataFile(fs, qrootV, rel, retain))
    }
    // the rewrite re-encoded everything — its commit stats supersede
    val stagedStats = new Path(staging, BtrTableMeta.StatsFile)
    if (fs.exists(stagedStats)) {
      fs.delete(new Path(root, BtrTableMeta.StatsFile), false)
      fs.rename(stagedStats, new Path(root, BtrTableMeta.StatsFile))
    }
    fs.delete(staging, true)
    BtrTableMeta.completeSwapJournals(fs, root) // drops the journal (idempotent)
    // a partition whose rows were all masked out produces no staged
    // files — its now-empty directory sweeps like a DELETE's would
    if (partCols.nonEmpty) BtrDelete.deleteEmptyPartitionDirs(fs, root)
    BtrFooters.refreshIndex(fs, root) // the rewrite replaced every selected file
    BtrLog.recordDelta(fs, root, "optimize",
      added = stagedRels, removed = srcRelsSeq ++ srcBlobRels)
    (before, staged.length)
  }

  /** OPTIMIZE a partitioned table to ONE file per partition directory —
    * the layout that makes storage-partitioned joins zero-sort as well as
    * zero-shuffle: Spark trusts a scan's reported ordering only when each
    * key group is a single split (DataSourceV2ScanExecBase requires
    * parts.length <= 1 per group), and a key group is one split exactly
    * when its directory holds one file small enough for one split. Same
    * footer-level byte-splice + journaled swap as [[compact]] — no
    * decode, crash-atomic. Files with different evolution signatures
    * cannot merge and are left as-is (the SPJ then keeps its sorts for
    * those keys until a clustered rewrite).
    */
  def optimizePartitioned(spark: SparkSession, path: String): (Int, Int) =
    compact(spark, path, Long.MaxValue)

  /** Compact a btr table's data files toward `targetBytes` per file.
    * Hive-partition directories compact independently (files in different
    * partitions can never merge). Returns (filesBefore, filesAfter).
    */
  /** `keep` filters which files are ELIGIBLE for merging (ineligible
    * files stay untouched on disk) — the streaming sink's auto-compaction
    * uses it to exclude the epochs Spark may still retry after a crash
    * (a retried epoch deletes-then-rewrites its own deterministic file
    * name; merging it away first would turn that retry into duplicates).
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L * 1024 * 1024,
      keep: BtrTableMeta.DataFileEntry => Boolean = _ => true,
      // test-only race injection: runs after the merge tasks, before the
      // conflict check + journal — deterministic stand-in for a commit
      // landing inside that window
      beforeSwap: () => Unit = () => (),
      // test-only: runs between the journal publish and the renames — the
      // window the post-publish overlap check (publishSwapJournalChecked)
      // guards; a concurrent maintenance writer landing here must yield
      afterJournal: () => Unit = () => (),
      // test-only: runs while the claim is PARKED under the intent prefix,
      // before the overlap re-check promotes it (the window where a
      // concurrent convergence pass must not act on the claim)
      afterIntent: () => Unit = () => ()): (Int, Int) = {
    val root = new Path(path)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    graft.format.BtrFs.requireCommitCapable(fs, root)
    // converge any swap a crashed compactor left behind before binning
    BtrTableMeta.completeSwapJournals(fs, root)
    BtrDvOps.convergePending(fs, root)
    // a compactor that died between its merge tasks and the journal write
    // leaves _tmp_compact_* files scans never see but nothing else ever
    // deletes — sweep them here. ONLY temps older than the maintenance
    // lease: a younger one may belong to a LIVE concurrent
    // partition-scoped compactor (`OPTIMIZE ... WHERE` sharded across
    // partitions), and sweeping it would fail that worker's rename
    // mid-swap; a dead worker's temps sweep on the first pass after the
    // lease expires
    def sweepTmp(d: Path): Unit = {
      val cutoff = System.currentTimeMillis() - BtrTableMeta.MaintenanceLeaseMs
      val it = fs.listStatusIterator(d)
      while (it.hasNext) {
        val st = it.next()
        if (st.isDirectory) sweepTmp(st.getPath)
        else if (st.getPath.getName.startsWith("_tmp_compact_") &&
          st.getModificationTime < cutoff) fs.delete(st.getPath, false)
      }
    }
    sweepTmp(root)
    val all = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    val before = all.length
    // bin ONLY files the committed snapshot log already references: a
    // concurrent append's task-committed files are visible in the listing
    // BEFORE the append's driver commit, and folding one into a merged
    // bin would re-home its rows — the append's own conflict check then
    // sees the file gone, fails, and its advised retry would DUPLICATE
    // rows that are already durable in the merged file. Restricting bins
    // to the committed snapshot makes append-then-OPTIMIZE serialize
    // cleanly; the uncommitted file is simply left for a later pass.
    val qualRoot = fs.makeQualified(root)
    val rootLen = qualRoot.toUri.getPath.length + 1
    def relOf(e: BtrTableMeta.DataFileEntry): String =
      e.path.toUri.getPath.substring(rootLen)
    val committedSet: Option[Set[String]] =
      BtrLog.latestVersion(fs, qualRoot).map { v =>
        // finals of COMPLETED swaps are row-preserving re-homes of
        // committed files: a crash between a swap's convergence and its
        // log entry leaves them listing-visible but log-unknown until the
        // next full checkpoint re-syncs — they are safe to bin, unlike a
        // genuinely uncommitted (in-flight append) file
        BtrLog.resolveSnapshot(fs, qualRoot, v).fileSet ++
          BtrTableMeta.readDoneSwapJournals(fs, qualRoot).flatMap(_._2).flatMap(g =>
            g.finals.map(f => if (g.dir.isEmpty) f else s"${g.dir}/$f"))
      }
    // files with deletion-vector blobs are ineligible for byte-merging:
    // a footer splice re-homes rows under NEW ordinals, orphaning every
    // mask. OPTIMIZE's full rewrite (rewriteWith) applies + drops the
    // masks instead; physical blob presence is the (conservative) test —
    // an uncommitted blob's DELETE may commit while the bin merges.
    val masked: Set[String] =
      graft.format.DeletionVector.listBlobRels(fs, qualRoot)
        .flatMap(graft.format.DeletionVector.targetOf).toSet
    val entries = all.filter(keep)
      .filter(e => committedSet.forall(_.contains(relOf(e))))
      .filterNot(e => masked.contains(relOf(e)))

    // bin per (directory, column count, physical tag signature):
    // footer-level merges splice row groups verbatim into one footer, and
    // parsing assumes uniform column counts AND types per file — files
    // from before a trailing-add or type-widening evolution must not mix
    // with post-widening ones (index-covered, so this costs no extra I/O)
    val colSig: Map[String, (Int, String)] =
      BtrFooters.readAllIndexed(fs, root, entries).map { case (e, footer) =>
        e.path.toUri.toString ->
          (footer.rowGroups.headOption.map(_.columns.length).getOrElse(0),
            if (footer.colTags == null) "" else footer.colTags.mkString(","))
      }.toMap
    val byDir = entries.groupBy(e =>
      (e.path.getParent.toUri.toString, colSig(e.path.toUri.toString)))
    val bins = scala.collection.mutable.ArrayBuffer.empty[Bin]
    byDir.foreach { case ((dirUri, _), files) =>
      var cur = scala.collection.mutable.ArrayBuffer.empty[String]
      var curBytes = 0L
      def flush(): Unit = {
        if (cur.length > 1) bins += Bin(dirUri, cur.toSeq)
        cur = scala.collection.mutable.ArrayBuffer.empty[String]
        curBytes = 0L
      }
      files.sortBy(_.path.getName).foreach { e =>
        if (curBytes > 0 && curBytes + e.len > targetBytes) flush()
        cur += e.path.getName
        curBytes += e.len
      }
      flush()
    }
    if (bins.isEmpty) return (before, before)

    val compactId = java.util.UUID.randomUUID().toString.substring(0, 8)
    val jobs = bins.zipWithIndex.map { case (b, i) =>
      (b, s"_tmp_compact_$compactId-$i.btr", f"part-compact-$compactId-$i%05d.btr")
    }.toSeq
    // one task per bin: byte streaming scales out; driver only swaps names
    spark.sparkContext.parallelize(jobs, jobs.length).foreach { case (bin, tmp, _) =>
      mergeBin(bin, tmp)
    }
    beforeSwap()
    // journal FIRST, then swap: with the journal visible, a listing hides
    // a bin's sources the moment its merged file appears (and hides a
    // merged file whose rename never happened), so a crash anywhere in
    // this loop exposes neither duplicate nor missing rows
    val rootUriPath = root.toUri.getPath
    def rel(dirUri: String): String = {
      val p = new Path(new java.net.URI(dirUri)).toUri.getPath
      if (p == rootUriPath) "" else p.stripPrefix(rootUriPath).stripPrefix("/")
    }
    // optimistic-concurrency check BEFORE the journal publishes: a
    // concurrent DELETE/rewrite that removed a bin source since the
    // binning listing would have its deletion silently undone by the
    // merged file (which still carries the removed rows). Abort instead:
    // drop the tmp merges and fail loudly — nothing published, the
    // concurrent commit's state stands, and the compaction retries.
    locally {
      val visibleNow = BtrTableMeta.listDataFilesWithPartitions(fs, root).map { e =>
        val p = e.path.toUri.getPath
        if (p.startsWith(rootUriPath)) p.stripPrefix(rootUriPath).stripPrefix("/") else p
      }.toSet
      val gone = jobs.flatMap { case (bin, _, _) =>
        val prefix = rel(bin.dirUri)
        bin.files.map(f => if (prefix.isEmpty) f else s"$prefix/$f")
      }.filterNot(visibleNow.contains)
      if (gone.nonEmpty) {
        jobs.foreach { case (bin, tmp, _) =>
          fs.delete(new Path(new Path(new java.net.URI(bin.dirUri)), tmp), false)
        }
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — OPTIMIZE read ${gone.length} " +
            s"file(s) a concurrent commit has since removed (e.g. " +
            s"${gone.take(3).mkString(", ")}); merging them would undo that " +
            "commit. Nothing was published; retry the OPTIMIZE.")
      }
      // a deletion-vector commit that landed on a binned file since
      // planning would be LOST by the byte splice (its ordinals die with
      // the source) — re-check and abort; the DV commit's own post-claim
      // verify covers the reverse interleaving
      val binnedRels = jobs.flatMap { case (bin, _, _) =>
        val prefix = rel(bin.dirUri)
        bin.files.map(f => if (prefix.isEmpty) f else s"$prefix/$f")
      }.toSet
      val nowMasked = graft.format.DeletionVector
        .blobRelsForTargets(fs, qualRoot, binnedRels)
      if (nowMasked.nonEmpty) {
        jobs.foreach { case (bin, tmp, _) =>
          fs.delete(new Path(new Path(new java.net.URI(bin.dirUri)), tmp), false)
        }
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — a merge-on-read DELETE " +
            s"committed deletion vectors over ${nowMasked.size} file(s) this " +
            "OPTIMIZE was merging; splicing them would resurrect the deleted " +
            "rows. Nothing was published; retry the OPTIMIZE.")
      }
    }
    // publish-then-recheck: another maintenance writer (a second
    // OPTIMIZE, a rewrite, a DELETE) may have published a journal over
    // shared sources in the window where neither saw the other
    // pre-publish — the observer yields before renaming anything
    val myJournal =
      try BtrTableMeta.publishSwapJournalChecked(fs, root, compactId,
        jobs.map { case (bin, _, fin) => BtrTableMeta.SwapGroup(rel(bin.dirUri), Seq(fin), bin.files) },
        afterIntent = afterIntent)
      catch {
        case e: IllegalStateException =>
          jobs.foreach { case (bin, tmp, _) =>
            fs.delete(new Path(new Path(new java.net.URI(bin.dirUri)), tmp), false)
          }
          throw e
      }
    // masks re-check AFTER the journal is visible: a merge-on-read
    // DELETE/UPDATE whose blobs landed between the pre-publish check and
    // the publish saw no journal at ITS conflict checks (DV commits
    // publish no swap journal), so this side must look again — one of
    // the two racers always observes the other (our journal is visible
    // from here on, and its blobs precede its own post-claim verify)
    locally {
      val binnedRels = jobs.flatMap { case (bin, _, _) =>
        val prefix = rel(bin.dirUri)
        bin.files.map(f => if (prefix.isEmpty) f else s"$prefix/$f")
      }.toSet
      // physically-present blobs (an in-flight DV commit) PLUS blobs a
      // pending RESTORE journal is about to resurrect (its finals) —
      // either way the masks for a binned file are in flight and the
      // splice would resurrect the masked rows
      val maskedNow = graft.format.DeletionVector
        .blobRelsForTargets(fs, qualRoot, binnedRels) ++
        BtrTableMeta.pendingBlobFinals(fs, root, myJournal.getName)
          .filter(r => graft.format.DeletionVector.targetOf(r).exists(binnedRels.contains))
      if (maskedNow.nonEmpty) {
        fs.delete(myJournal, false)
        jobs.foreach { case (bin, tmp, _) =>
          fs.delete(new Path(new Path(new java.net.URI(bin.dirUri)), tmp), false)
        }
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — a merge-on-read commit " +
            s"put deletion vectors on ${maskedNow.size} file(s) this OPTIMIZE " +
            "was merging (post-publish); this writer yielded before renaming " +
            "anything. Nothing was published; retry the OPTIMIZE.")
      }
    }
    afterJournal()
    val retain = BtrTableMeta.readRetainRemoved(fs, root)
    val qroot = fs.makeQualified(root)
    // rename ALL finals in, THEN delete sources — with the lease-skew
    // guard between (see rewriteWith): once every group's final is
    // visible the journal is all-complete, and any convergence pass goes
    // FORWARD (idempotent with the deletes below). A journal missing at
    // the barrier means a rollback raced the rename loop — groups whose
    // sources survive withdraw their final; forward-converged groups
    // (sources already gone) keep theirs, they are committed.
    jobs.foreach { case (bin, tmp, fin) =>
      val dir = new Path(new java.net.URI(bin.dirUri))
      if (!fs.rename(new Path(dir, tmp), new Path(dir, fin)))
        throw new java.io.IOException(s"btr compact: rename $tmp -> $fin failed in $dir")
    }
    if (!fs.exists(myJournal)) {
      // the done-marker says EXACTLY which groups the convergence pass
      // carried forward (their swap committed — sources already removed);
      // every other group was rolled back and withdraws its merged file.
      // Source presence is NOT the discriminator: a third writer may have
      // consumed a rolled-back group's sources after the rollback.
      val converged: Set[(String, String)] = BtrTableMeta.readDoneSwapJournals(fs, root)
        .filter(_._1.getName == s"_btr_swapdone_$compactId.json")
        .flatMap(_._2).flatMap(g => g.finals.map(f => (g.dir, f))).toSet
      val withdrawn = jobs.filter { case (bin, _, fin) =>
        if (!converged.contains((rel(bin.dirUri), fin))) {
          fs.delete(new Path(new Path(new java.net.URI(bin.dirUri)), fin), false); true
        } else false
      }
      if (withdrawn.nonEmpty)
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — this OPTIMIZE's swap " +
            s"journal was rolled back mid-rename (a convergence pass judged the " +
            s"worker crashed past the maintenance lease); ${withdrawn.length} " +
            "bin(s) withdrew their merged file, sources remain authoritative. " +
            "Retry the OPTIMIZE.")
    }
    jobs.foreach { case (bin, _, _) =>
      val prefix = rel(bin.dirUri)
      bin.files.foreach(f => BtrRetention.removeDataFile(fs, qroot,
        if (prefix.isEmpty) f else s"$prefix/$f", retain))
    }
    BtrTableMeta.completeSwapJournals(fs, root)
    // merged files replace their sources in the footer index (incremental:
    // untouched files keep their cached entries)
    BtrFooters.refreshIndex(fs, root)
    locally {
      def withPrefix(dirUri: String, name: String): String = {
        val prefix = rel(dirUri)
        if (prefix.isEmpty) name else s"$prefix/$name"
      }
      BtrLog.recordDelta(fs, root, "optimize",
        added = jobs.map { case (bin, _, fin) => withPrefix(bin.dirUri, fin) },
        removed = jobs.flatMap { case (bin, _, _) =>
          bin.files.map(withPrefix(bin.dirUri, _)) })
    }
    (before, before - jobs.map(_._1.files.length).sum + jobs.length)
  }
}
