package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** How an unpartitioned scan is cut into tasks: its surviving row groups,
  * in file order, form `P × waves` contiguous shares of equal projected
  * bytes, and a share that crosses files is a packed split of per-file
  * slices that reads exactly what one split over the table reads.
  */
class SplitPlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-split-plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = s"/tmp/btr-split-plan/$name"

  private val Files = 5
  private val GroupsPerFile = 8
  private val GroupRows = 1024

  /** Five files of eight 1,024-row groups. Every group holds the same
    * permutation of 0..1023 in `k`, `x` and `s` and a run of consecutive
    * ids, so every group's projected bytes are alike.
    */
  private def writeFiveFiles(p: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    spark.range(0L, Files.toLong * GroupsPerFile * GroupRows, 1L, Files)
      .selectExpr("id", "(id * 37) % 1024 AS k", "cast(((id * 37) % 1024) / 4.0 AS double) AS x",
        "concat('v', cast((id * 37) % 1024 AS string)) AS s")
      .write.format("btr").option("btr.blockSize", GroupRows.toString)
      .mode("overwrite").save(p)
  }

  private lazy val five: String = { val p = tmp("five"); writeFiveFiles(p); p }

  private def read(p: String, opts: (String, String)*): DataFrame =
    spark.read.format("btr").options(opts.toMap).load(p)

  private def bytesOf(p: InputPartition): Long =
    ScanGroups.slicesOf(p).flatMap(_.groups).map(_.lengths.map(_.toLong).sum).sum

  private def groupIds(parts: Seq[InputPartition]): Seq[(String, Long)] =
    parts.flatMap(ScanGroups.slicesOf).flatMap(s => s.groups.map(g => (s.file, g.firstOrdinal)))

  test("a 5-file unpartitioned table plans one split per core, each row group once") {
    val parts = ScanGroups.planned(read(five, "btr.splitParallelism" -> "4"))
    assert(parts.length == 4, s"expected 4 splits on 4 cores, got ${parts.length}")
    val files = parts.flatMap(ScanGroups.slicesOf).map(_.file).distinct
    assert(files.length == Files, s"precondition: $Files files, got ${files.length}")
    assert(parts.exists(_.isInstanceOf[BtrPackedInputPartition]),
      "expected at least one share to cross a file boundary")
    val ids = groupIds(parts)
    assert(ids.distinct.length == ids.length, "a row group was planned twice")
    val whole = groupIds(ScanGroups.planned(read(five, "btr.splitParallelism" -> "1")))
    assert(whole.length == Files * GroupsPerFile)
    assert(ids.sorted == whole.sorted, "the shares must cover every row group")
    assert(parts.flatMap(ScanGroups.slicesOf).flatMap(_.groups).map(_.numRows.toLong).sum ==
      Files.toLong * GroupsPerFile * GroupRows)
    // shares are contiguous in file order: concatenated, they are the
    // single split's order
    assert(ids == whole, "shares must be contiguous runs of the file order")
  }

  test("share bytes differ by at most one row group") {
    for (p <- Seq(3, 4, 6)) {
      val parts = ScanGroups.planned(read(five, "btr.splitParallelism" -> p.toString))
      assert(parts.length == p)
      val shares = parts.map(bytesOf)
      val maxGroup = parts.flatMap(ScanGroups.slicesOf).flatMap(_.groups)
        .map(_.lengths.map(_.toLong).sum).max
      assert(shares.max - shares.min <= maxGroup,
        s"P=$p: share bytes ${shares.mkString(",")} differ by more than one group ($maxGroup)")
    }
  }

  test("a small btr.maxSplitBytes plans a whole number of waves") {
    val total = ScanGroups.planned(read(five, "btr.splitParallelism" -> "4")).map(bytesOf).sum
    // 10 splits' worth of bytes on 4 cores rounds up to 3 waves
    val parts = ScanGroups.planned(read(five, "btr.splitParallelism" -> "4",
      "btr.maxSplitBytes" -> (total / 10).toString))
    assert(parts.length % 4 == 0, s"expected whole waves of 4, got ${parts.length}")
    assert(parts.length == 12, s"expected 3 waves of 4, got ${parts.length}")
    val ids = groupIds(parts)
    assert(ids.distinct.length == Files * GroupsPerFile && ids.length == ids.distinct.length)
  }

  test("shares that span files read what one split reads, metadata and DV masks included") {
    val p = tmp("five-dv")
    writeFiveFiles(p)
    def answer(par: Int): (Long, Long, Seq[(String, Long, Long)]) = {
      val df = read(p, "btr.splitParallelism" -> par.toString)
      (df.count(), df.agg(sum(hash(df.columns.map(col): _*).cast("long"))).head.getLong(0),
        df.select("_file", "_pos", "id").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    }
    def check(): Unit = {
      val one = answer(1)
      for (par <- Seq(3, 4)) {
        assert(ScanGroups.planned(read(p, "btr.splitParallelism" -> par.toString))
          .exists(_.isInstanceOf[BtrPackedInputPartition]), "precondition: a packed share")
        assert(answer(par) == one, s"splitParallelism=$par differs from one split")
      }
    }
    check()
    // `_pos` is the row's ordinal within its own file, across packed slices
    val rows = answer(4)._3
    rows.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted == (0L until rs.length.toLong))
    }
    spark.conf.set("spark.sql.catalog.graft", classOf[BtrCatalog].getName)
    spark.sql(s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('btr.deletionVectors'='true')")
    spark.sql(s"DELETE FROM graft.`$p` WHERE id % 7 = 0 OR id BETWEEN 9000 AND 9999")
    assert(ScanGroups.planned(read(p, "btr.splitParallelism" -> "4")).flatMap(ScanGroups.slicesOf)
      .exists(_.dvBlobs.nonEmpty), "precondition: deletion vectors on planned slices")
    check()
    val kept = answer(4)
    assert(kept._1 == (0L until Files.toLong * GroupsPerFile * GroupRows)
      .count(i => i % 7 != 0 && (i < 9000 || i > 9999)))
    assert(!kept._3.exists(r => r._3 % 7 == 0), "a deleted row came back")
  }
}
