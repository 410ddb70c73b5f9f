package graft.sources

import graft.format.{BtrFile, BtrFooterIndex, BtrTableMeta}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The footer-index sidecar turns scan planning into ONE metadata file
  * read on a fully-indexed table (no per-data-file tail-reads), stays
  * incremental across appends/compaction, and degrades to tail-reads —
  * never wrong answers — when absent, stale, or corrupt.
  */
class BtrFooterIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-footer-index-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = s"/tmp/btr-footer-index-spec/$name"

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(BtrTableMeta.hadoopConf())

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def writeSample(dir: String, parts: Int = 3): Unit = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (0 until 300).map(i => (i.toLong, s"doc-$i", i * 0.5))
      .toDF("id", "s", "v").repartition(parts)
      .write.format("btr").mode("overwrite").save(dir)
  }

  test("batch commit writes an index covering every data file") {
    val dir = tmp("covered")
    writeSample(dir)
    val fs = fsOf(dir)
    val idx = BtrFooterIndex.read(fs, new Path(dir))
    val listed = BtrTableMeta.listDataFilesWithPartitions(fs, new Path(dir))
    assert(listed.nonEmpty)
    val root = fs.makeQualified(new Path(dir))
    listed.foreach { e =>
      val key = BtrFooterIndex.keyOf(root, e)
      assert(idx.contains(key), s"index missing $key")
      // cached footer equals the file's actual footer
      val direct = BtrFile.readFooter(fs, e.path, e.len)
      val cached = idx(key)
      assert(cached.numRows == direct.numRows)
      assert(cached.rowGroups.length == direct.rowGroups.length)
    }
  }

  test("planning a fully-indexed table does zero footer tail-reads") {
    val dir = tmp("zeroreads")
    writeSample(dir)
    val expected = sortedRows(spark.read.format("btr").load(dir))
    // sum(hash(id)) is NOT answerable from footer stats, so this plans the
    // data-scan path (BtrScan.discovered) and then reads chunk payloads —
    // with a covering index neither step tail-reads a footer. (COUNT(*)
    // would take the metadata-only agg path, which tail-reads per task on
    // purpose: that parallelism is the point of partial agg pushdown.)
    var n = 0L
    val delta = ScanMetrics.during(spark) {
      n = spark.read.format("btr").load(dir)
        .selectExpr("sum(hash(id))").collect().head.getLong(0)
    }(BtrScanMetrics.FooterReads)
    assert(n != 0)
    assert(delta == 0, s"expected 0 footer tail-reads with a covering index, saw $delta")
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
  }

  test("metadata-only aggregates ship indexed footers: zero tail-reads, same answers") {
    val dir = tmp("aggidx")
    writeSample(dir)
    val agg = () => spark.read.format("btr").load(dir)
      .selectExpr("count(*)", "min(id)", "max(id)", "min(v)", "max(v)")
      .collect().head
    val expected = agg()
    val indexed = ScanMetrics.during(spark)(assert(agg() == expected))(BtrScanMetrics.FooterReads)
    assert(indexed == 0,
      "indexed agg pushdown must not tail-read footers in tasks")
    // without the index the same query still answers identically
    fsOf(dir).delete(new Path(dir, BtrFooterIndex.IndexFile), false)
    val fallback = ScanMetrics.during(spark)(assert(agg() == expected))(BtrScanMetrics.FooterReads)
    assert(fallback > 0, "fallback path should tail-read")
  }

  test("a deleted or corrupt index falls back to tail-reads with identical results") {
    val dir = tmp("fallback")
    writeSample(dir)
    val expected = sortedRows(spark.read.format("btr").load(dir))
    val fs = fsOf(dir)
    val idxPath = new Path(dir, BtrFooterIndex.IndexFile)
    // absent
    fs.delete(idxPath, false)
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
    // corrupt (truncated garbage)
    val out = fs.create(idxPath, true)
    out.write("BTRXgarbage".getBytes("UTF-8"))
    out.close()
    assert(BtrFooterIndex.read(fs, new Path(dir)).isEmpty)
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
  }

  test("an in-place modified file invalidates its cached footer via the mtime key") {
    val dir = tmp("tamper")
    writeSample(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_")).head
    // corrupt the header version in place: length unchanged, so only the
    // modification time distinguishes the file from its indexed footer
    val raf = new java.io.RandomAccessFile(file, "rw")
    raf.seek(4); raf.writeInt(99); raf.close()
    assert(file.setLastModified(file.lastModified() + 2000))
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val e = intercept[Exception] {
      spark.read.format("btr").load(dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("version 99")),
      "stale cached footer must not mask the corrupted file: " + messages(e).mkString(" | "))
  }

  test("a stale index (missing the newest append) still plans correctly") {
    import spark.implicits._
    val dir = tmp("stale")
    writeSample(dir)
    val fs = fsOf(dir)
    val stale = BtrFooterIndex.read(fs, new Path(dir))
    (300 until 400).map(i => (i.toLong, s"doc-$i", i * 0.5))
      .toDF("id", "s", "v").repartition(1)
      .write.format("btr").mode("append").save(dir)
    // rewind the index to the pre-append state: new file not covered
    val root = fs.makeQualified(new Path(dir))
    BtrFooterIndex.write(fs, root,
      stale.toSeq.map { case ((rel, len, mt), f) => BtrFooterIndex.Entry(rel, len, mt, f) })
    val rows = spark.read.format("btr").load(dir)
    assert(rows.count() == 400, "stale index must not hide the new file")
    assert(rows.where("id >= 300").count() == 100)
  }

  test("append refreshes incrementally; compaction replaces merged entries") {
    import spark.implicits._
    val dir = tmp("lifecycle")
    writeSample(dir, parts = 4)
    val fs = fsOf(dir)
    (300 until 350).map(i => (i.toLong, s"doc-$i", i * 0.5))
      .toDF("id", "s", "v").repartition(2)
      .write.format("btr").mode("append").save(dir)
    val root = fs.makeQualified(new Path(dir))
    val afterAppend = BtrFooterIndex.read(fs, root)
    val listed = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    assert(listed.forall(e => afterAppend.contains(BtrFooterIndex.keyOf(root, e))))

    val expected = sortedRows(spark.read.format("btr").load(dir))
    val (before, after) = BtrCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(after < before)
    val afterCompact = BtrFooterIndex.read(fs, root)
    val relisted = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    assert(relisted.forall(e => afterCompact.contains(BtrFooterIndex.keyOf(root, e))),
      "index must cover the merged files")
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
    // and planning off the refreshed index is tail-read-free again
    val reads = ScanMetrics.during(spark) {
      spark.read.format("btr").load(dir).selectExpr("sum(hash(id))").collect()
    }(BtrScanMetrics.FooterReads)
    assert(reads == 0,
      "post-compaction scan should plan from the refreshed index")
  }
}
