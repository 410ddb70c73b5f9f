package graft.functions

import graft.format._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `describe_btr`: per (file, rowGroup, column) inspection of a btr table —
  * chosen scheme cascade, null-map kind, sizes, ratio — mirroring the
  * reference's metadata tools (BtrReader::getSchemeDescription,
  * /root/reference/btrblocks/compression/BtrReader.cpp:76-121, and
  * tools/conversion/btrmeta.cpp). Block parsing runs distributed
  * (one task per file); only the small description rows reach the driver.
  */
object BtrInspect {

  final case class ChunkDescription(
      file: String,
      row_group: Int,
      column: String,
      col_type: String,
      n_rows: Int,
      n_nulls: Int,
      null_kind: String,
      scheme_tree: String,
      compressed_bytes: Long,
      uncompressed_bytes: Long,
      ratio: Double,
      has_nan: Boolean = false, // format v2: double/float chunk saw a NaN
      bloom_bytes: Int = 0 // format v3: equality-skip bloom size (0 = none)
  )

  /** Commit-time ingest stats written by the last successful write
    * (rows, per-column nulls, raw/compressed bytes, ratio) — the analog
    * of the reference's `.stats` files (btrfiles/Parser.cpp:184-189).
    * ADVISORY: they describe the last write, not necessarily the live
    * table — DELETE and row-level rewrites drop the sidecar (an empty
    * result here means "no current stats"), and an append's stats cover
    * only that append's files. Exact live row counts come from the
    * footers (`describe` / a COUNT(*) metadata-only aggregate).
    */
  def tableStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    BtrTableMeta.readStats(dir.getFileSystem(BtrTableMeta.hadoopConf()), dir).toDF()
  }

  /** Deletion-vector inventory: one row per COMMITTED blob (log-resolved,
    * like the scan — a crashed commit's orphan never shows) with its
    * target file, masked-row count and blob size. `SUM(deleted_rows)` is
    * the table's mask debt; OPTIMIZE clears it. Empty on non-DV tables.
    */
  def deletionVectors(spark: SparkSession, path: String): DataFrame = {
    import graft.format.DeletionVector
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val root = fs.makeQualified(dir)
    val rels: Seq[String] =
      graft.sources.BtrLog.latestVersion(fs, root) match {
        case None => Nil
        case Some(v) => graft.sources.BtrLog.resolveSnapshot(fs, root, v).files
          .filter(DeletionVector.isDvRel)
      }
    rels.map { rel =>
      val blob = DeletionVector.readBlob(fs, new Path(root, rel))
      (rel, DeletionVector.targetOf(rel).getOrElse(""), blob.posCount,
        fs.getFileStatus(new Path(root, rel)).getLen, blob.expectedTargetLen)
    }.toDF("blob", "target", "deleted_rows", "blob_bytes", "target_len")
  }

  /** Per-partition-directory operational summary from metadata alone:
    * files, rows, bytes, and outstanding deletion-vector mask debt — the
    * maintenance-planning view ("which days need OPTIMIZE, which files
    * crossed the purge threshold") at O(files) footer reads + O(blobs)
    * header reads, zero data I/O. Derived transform dirs report under
    * their directory names (`ts_days=2026-08-15`); an unpartitioned
    * table reports one `(table)` row.
    */
  def partitions(spark: SparkSession, path: String): DataFrame = {
    import graft.format.DeletionVector
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val root = fs.makeQualified(dir)
    val entries = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    val partCols = BtrTableMeta.readPartitionCols(fs, root)
    val dirFields: Seq[String] =
      partCols.map(c => graft.format.PartitionTransform.parse(c).dirName)
    def keyOf(values: Map[String, String]): String =
      if (dirFields.isEmpty) "(table)"
      else dirFields.map(n =>
        s"$n=${values.getOrElse(n, BtrTableMeta.NullPartition)}").mkString("/")
    val maskedByTarget: Map[String, Long] =
      graft.sources.BtrLog.latestVersion(fs, root) match {
        case None => Map.empty
        case Some(v) => graft.sources.BtrLog.resolveSnapshot(fs, root, v).files
          .filter(DeletionVector.isDvRel)
          .flatMap { rel =>
            DeletionVector.targetOf(rel).map(t =>
              t -> DeletionVector.readBlob(fs, new Path(root, rel)).posCount.toLong)
          }
          .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sum }
      }
    val rootLen = root.toUri.getPath.length + 1
    entries.toSeq.map { e =>
      val footer = graft.format.BtrFile.readFooter(fs, e.path, e.len)
      val rel = e.path.toUri.getPath.substring(rootLen)
      (keyOf(e.partitionValues), footer.numRows, e.len,
        maskedByTarget.getOrElse(rel, 0L))
    }.groupBy(_._1).toSeq.map { case (k, vs) =>
      (k, vs.length.toLong, vs.map(_._2).sum, vs.map(_._3).sum, vs.map(_._4).sum)
    }.toDF("partition", "files", "rows", "bytes", "masked_rows")
      .orderBy("partition")
  }

  /** Clustering quality per column (the OPTIMIZE decision metric, the
    * analog of Delta's clustering depth): for every row group, the number
    * of row-group [min,max] windows that contain its min point — the
    * "stabbing count". 1.0 means perfectly disjoint windows (each point
    * probe plans one group); ~n_groups/2 means random layout (every probe
    * scans half the table). Computed entirely from footer metadata via an
    * O(n log n) driver sweep — the same planning-scale data a scan reads,
    * no data bytes. Only numeric-family columns (statsKind 1/2) report.
    */
  def clusteringQuality(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val meta = BtrTableMeta.read(fs, dir)
    val (schema, partCols) = (meta.schema, meta.partitionCols)
    val fields = schema.fields.filterNot(f => partCols.contains(f.name))
    val entries = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
    val footers = graft.sources.BtrFooters.readAllIndexed(fs, dir, entries).map(_._2)
    val rows = fields.zipWithIndex.flatMap { case (f, c) =>
      // normalize both stat kinds to doubles for a uniform sweep
      val ivs = footers.flatMap(_.rowGroups.flatMap { rg =>
        if (c >= rg.columns.length) None
        else rg.columns(c).statsKind match {
          case 1 => Some((rg.columns(c).minLong.toDouble, rg.columns(c).maxLong.toDouble))
          case 2 if !rg.columns(c).minDouble.isNaN =>
            Some((rg.columns(c).minDouble, rg.columns(c).maxDouble))
          case _ => None
        }
      })
      if (ivs.isEmpty) None
      else {
        val mins = ivs.map(_._1).sorted
        val maxs = ivs.map(_._2).sorted
        // stab(x) = #{min_i <= x} - #{max_i < x}
        def stab(x: Double): Int = {
          def countLe(a: Array[Double], v: Double, strict: Boolean): Int = {
            var lo = 0
            var hi = a.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              val c = java.lang.Double.compare(a(mid), v)
              if (c < 0 || (!strict && c == 0)) lo = mid + 1 else hi = mid
            }
            lo
          }
          countLe(mins, x, strict = false) - countLe(maxs, x, strict = true)
        }
        val stabs = ivs.map(iv => stab(iv._1))
        Some((f.name, ivs.length.toLong,
          math.round(stabs.map(_.toDouble).sum / stabs.length * 100.0) / 100.0,
          stabs.max.toLong))
      }
    }
    rows.toSeq.toDF("column", "n_groups", "avg_stab", "worst_stab")
  }

  /** Per-file structural consistency: the chunk blobs must exactly tile
    * the data region [header, fileLen - tail - footer) with contiguous
    * offsets — the analog of the reference's verify-on-write
    * (tools/conversion/csvtobtr.cpp:49-66), checkable without any oracle.
    */
  def fileConsistency(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val files = BtrTableMeta.listDataFilesWithPartitions(fs, dir).map(_.path.toString)
    spark.createDataset(files.toSeq)
      .map { file =>
        val p = new Path(file)
        val ffs = p.getFileSystem(BtrTableMeta.hadoopConf())
        val len = ffs.getFileStatus(p).getLen
        val ok =
          try {
            val in = BtrFs.open(ffs, p)
            val tail = try BtrFs.readAt(in, len - 8L, 8) finally in.close()
            val footerLen = new BufReader(tail).getInt()
            val footer = BtrFile.readFooter(ffs, p, len)
            val chunks = footer.rowGroups.flatMap(_.columns)
              .map(c => (c.offset, c.length.toLong)).sortBy(_._1)
            val dataEnd = len - 8L - footerLen
            var pos = 8L // magic + version header
            var contiguous = true
            chunks.foreach { case (off, l) =>
              if (off != pos) contiguous = false
              pos = off + l
            }
            contiguous && pos == dataEnd
          } catch { case _: Throwable => false }
        (p.getName, ok)
      }
      .toDF("file", "ok")
  }

  /** Per-column table NDV estimates from the footer HyperLogLog sketches
    * (format v6): elementwise-max union across files, linear-counting
    * small-range correction — the metadata-only distinct count the scan
    * reports to Catalyst's CBO. `ndv_est` is null when any file lacks a
    * sketch (pre-v6 files, `btr.ndv.enabled=false`, array columns);
    * partition columns report the EXACT directory-value count. Footer
    * reads go through the footer-index sidecar — one metadata read, no
    * data I/O.
    */
  def ndvEstimates(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val meta = BtrTableMeta.read(fs, dir)
    val (schema, partCols) = (meta.schema, meta.partitionCols)
    val entries = BtrTableMeta.listDataFilesWithPartitions(fs, dir)
    val footers = graft.sources.BtrFooters.readAllIndexed(fs, dir, entries)
    val dataFields = schema.fields.filterNot(f => partCols.contains(f.name))
    val totalRows = footers.map(_._2.numRows).sum
    val dataRows = dataFields.zipWithIndex.map { case (f, ci) =>
      var nulls = 0L
      var known = true
      var p = 0
      var merged: Array[Byte] = null
      footers.foreach { case (_, fo) =>
        val present = fo.rowGroups.nonEmpty && fo.rowGroups.head.columns.length > ci
        if (!present) nulls += fo.numRows
        else {
          fo.rowGroups.foreach(rg => nulls += rg.columns(ci).nullCount)
          if (known && fo.numRows > 0) {
            val reg = fo.ndvOf(ci)
            if (reg == null || fo.ndvP == 0 || (merged != null && fo.ndvP != p)) known = false
            else if (merged == null) { p = fo.ndvP; merged = reg.clone() }
            else Hll.merge(merged, reg)
          }
        }
      }
      val nonNull = math.max(totalRows - nulls, 0L)
      val est: Option[Long] =
        if (!known) None
        else if (merged == null || nonNull == 0L) Some(0L)
        else Some(math.max(math.min(Hll.estimate(merged, p), nonNull), 1L))
      (f.name, totalRows, nulls, est, false)
    }
    val partRows = partCols.map { name =>
      val nullPart = BtrTableMeta.NullPartition
      val vals = scala.collection.mutable.LinkedHashSet.empty[String]
      var nulls = 0L
      footers.foreach { case (e, fo) =>
        val v = e.partitionValues.getOrElse(name, nullPart)
        if (v == nullPart) nulls += fo.numRows else vals += v
      }
      (name, totalRows, nulls, Some(vals.size.toLong): Option[Long], true)
    }
    (dataRows.toSeq ++ partRows)
      .toDF("column", "rows", "nulls", "ndv_est", "exact")
  }

  /** Snapshot history from the `_btr_log/` sidecar, newest first — the
    * versions `VERSION AS OF` / `TIMESTAMP AS OF` can travel to (the
    * newest [[graft.sources.BtrLog.KeepEntries]] commits; a version's
    * files must also still exist physically — OPTIMIZE/DELETE truncate
    * readable history).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val root = fs.makeQualified(dir)
    // `readable`: every referenced file still exists — OPTIMIZE/DELETE
    // physically truncate history, and surfacing that here beats finding
    // out from a failed VERSION AS OF read
    val rootLen = root.toUri.getPath.length + 1
    val live = BtrTableMeta.listDataFilesWithPartitions(fs, root)
      .map(e => e.path.toUri.getPath.substring(rootLen)).toSet
    graft.sources.BtrLog.history(fs, root)
      .map(e => (e.version, new java.sql.Timestamp(e.tsMillis), e.action,
        e.files.length.toLong, e.files.forall(live.contains)))
      .toDF("version", "committed_at", "action", "n_files", "readable")
  }

  def describe(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(BtrTableMeta.hadoopConf())
    val meta = BtrTableMeta.read(fs, dir)
    val (schema, partCols) = (meta.schema, meta.partitionCols)
    val files = BtrTableMeta.listDataFilesWithPartitions(fs, dir).map(_.path.toString)
    // footers hold only the data columns; partition values live in dirs
    val fields = schema.fields.filterNot(f => partCols.contains(f.name))
      .map(f => (f.name, f.dataType.simpleString, PhysType.of(f.dataType)))

    spark.createDataset(files.toSeq)
      .flatMap { file =>
        val p = new Path(file)
        val ffs = p.getFileSystem(BtrTableMeta.hadoopConf())
        val len = ffs.getFileStatus(p).getLen
        val footer = BtrFile.readFooter(ffs, p, len)
        val in = BtrFs.open(ffs, p)
        val rows = footer.rowGroups.toSeq.zipWithIndex.flatMap { case (rg, g) =>
          // schema evolution: describe only what the file stores (columns
          // it predates would index past its footer)
          fields.toSeq.zipWithIndex.take(rg.columns.length).map { case ((name, typ, tag), c) =>
            val meta = rg.columns(c)
            // just this chunk's blob (long-safe offsets)
            val reader = new BufReader(BtrFs.readAt(in, meta.offset, meta.length))
            val (nullKind, tree) = BlockDescribe.describeChunk(reader, tag, rg.numRows)
            val uncompressed = tag match {
              case t if PhysType.isIntFamily(t) || t == PhysType.Float =>
                rg.numRows.toLong * PhysType.physWidth(t)
              case PhysType.Double => rg.numRows.toLong * 8
              case _ => -1L // strings: varlen; ratio reported vs compressed only when known
            }
            ChunkDescription(
              file = p.getName,
              row_group = g,
              column = name,
              col_type = typ,
              n_rows = rg.numRows,
              n_nulls = meta.nullCount,
              null_kind = nullKind,
              scheme_tree = tree,
              compressed_bytes = meta.length.toLong,
              uncompressed_bytes = uncompressed,
              ratio = if (uncompressed > 0) uncompressed.toDouble / meta.length else Double.NaN,
              has_nan = meta.hasNaN,
              bloom_bytes = if (meta.bloom == null) 0 else meta.bloom.length * 4
            )
          }
        }
        in.close()
        rows
      }
      .toDF()
  }
}
