package graft.sources

import graft.format.{BtrFile, BtrTableMeta, DeletionVector}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Write-time distribution + ordering (`RequiresDistributionAndOrdering`):
  *
  *  - partitioned appends cluster rows by partition value BEFORE the
  *    writers (non-strict, so AQE rebalance can coalesce tiny and split
  *    huge partitions) — one file per partition instead of one per
  *    task×partition;
  *  - a declared `btr.clusterBy` on an unpartitioned table requires a
  *    RANGE distribution, so files land with disjoint cluster-key
  *    ranges and chunk skipping prunes whole files immediately;
  *  - pure deletion-vector DELETEs cluster by `_file`, collapsing the
  *    per-(task, file) blob blowup to one position blob per file.
  *
  * Modes `local`/`none` opt down to sort-only / nothing.
  */
class BtrWriteLayoutSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("write-layout-spec")
    .config("spark.sql.shuffle.partitions", "4")
    // let the 64 KiB advisory below actually shape the post-shuffle
    // coalescing (the 1 MiB default floor would merge this small
    // fixture back to one task)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
    .config("spark.sql.catalog.graft", "graft.sources.BtrCatalog")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = {
    val d = s"/tmp/btr-write-layout-spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  private def fsRoot(dir: String) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(BtrTableMeta.hadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def dataFilesPerPartition(dir: String): Map[String, Int] = {
    val (fs, root) = fsRoot(dir)
    BtrTableMeta.listDataFilesWithPartitions(fs, root)
      .groupBy(_.partitionValues.mkString("/"))
      .map { case (k, v) => k -> v.length }
  }

  test("partitioned append: scattered input converges to one file per partition") {
    import spark.implicits._
    val p = tmp("part-auto")
    // 3 partition values interleaved across 4 input tasks: the naive
    // layout would write up to 4 files per partition value
    (0 until 3000).map(i => (i, s"p${i % 3}")).toDF("id", "p")
      .repartition(4)
      .write.format("btr").mode("append").partitionBy("p").save(p)
    val files = dataFilesPerPartition(p)
    assert(files.keySet.size == 3)
    assert(files.values.forall(_ == 1),
      s"expected exactly one file per partition, got $files")
  }

  test("distribution=none preserves the caller's layout (one file per task per partition)") {
    import spark.implicits._
    val p = tmp("part-none")
    (0 until 3000).map(i => (i, s"p${i % 3}")).toDF("id", "p")
      .repartition(4)
      .write.format("btr").mode("append").option("btr.write.distribution", "none")
      .partitionBy("p").save(p)
    val files = dataFilesPerPartition(p)
    assert(files.values.exists(_ > 1),
      s"opt-out should keep the task-scattered layout, got $files")
  }

  test("clusterBy on an unpartitioned table: files carry disjoint key ranges") {
    import spark.implicits._
    val p = tmp("cluster-range")
    // shuffled keys; tiny advisory size forces the range shuffle to
    // produce several output tasks even on this small input
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 40000).toList).map(i => (i.toLong, i % 17))
      .toDF("x", "y")
      .repartition(4)
      .write.format("btr").mode("append")
      .option("btr.clusterBy", "x")
      .option("btr.write.advisoryPartitionBytes", 64 * 1024)
      .save(p)
    val (fs, root) = fsRoot(p)
    val entries = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    assert(entries.length > 1, "expected the range write to emit several files")
    val xIdx = 0 // first column of the schema
    val ranges = entries.map { e =>
      val f = BtrFile.readFooter(fs, e.path, e.len)
      val mins = f.rowGroups.map(_.columns(xIdx).minLong)
      val maxs = f.rowGroups.map(_.columns(xIdx).maxLong)
      (mins.min, maxs.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges overlap: ${ranges.mkString(", ")}")
      case _ => ()
    }
    // and the sort is visible inside each file too: row groups ascend
    val f0 = BtrFile.readFooter(fs, entries.head.path, entries.head.len)
    val groupMins = f0.rowGroups.map(_.columns(xIdx).minLong)
    assert(groupMins.sameElements(groupMins.sorted))
  }

  test("btr.clusterBy TBLPROPERTIES: set, show, reject bad columns, unset") {
    import spark.implicits._
    val p = tmp("cluster-policy")
    (0 until 100).map(i => (i, s"p${i % 2}")).toDF("id", "p")
      .write.format("btr").mode("append").partitionBy("p").save(p)
    spark.sql(s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('btr.clusterBy' = 'id')")
    assert(spark.sql(s"SHOW TBLPROPERTIES graft.`$p`").collect()
      .exists(r => r.getString(0) == "btr.clusterBy" && r.getString(1) == "id"))
    val badCol = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('btr.clusterBy' = 'nope')")
    }
    assert(badCol.getMessage.contains("does not exist"))
    val partCol = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('btr.clusterBy' = 'p')")
    }
    assert(partCol.getMessage.contains("partition column"))
    spark.sql(s"ALTER TABLE graft.`$p` UNSET TBLPROPERTIES ('btr.clusterBy')")
    assert(!spark.sql(s"SHOW TBLPROPERTIES graft.`$p`").collect()
      .exists(_.getString(0) == "btr.clusterBy"))
    // declared clustering drives appends: new files arrive sorted by id
    spark.sql(s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('btr.clusterBy' = 'id')")
    val before = dataFilesPerPartition(p).values.sum
    (0 until 1000).map(i => (1000 + i, s"p${i % 2}")).toDF("id", "p")
      .repartition(4)
      .write.format("btr").mode("append").partitionBy("p").save(p)
    val (fs, root) = fsRoot(p)
    val entries = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    assert(entries.length == before + 2,
      s"clustered append should add one file per partition, got ${entries.length - before}")
    // validation failure surfaces before the job runs for a bogus option
    val err = intercept[Exception] {
      (0 until 10).map(i => (i, "p0")).toDF("id", "p")
        .write.format("btr").mode("append").option("btr.clusterBy", "ghost")
        .partitionBy("p").save(p)
    }
    assert(err.getMessage.contains("ghost"))
  }

  test("policy keys in a column's field metadata leave the table policy unchanged") {
    import spark.implicits._
    val p = tmp("field-metadata")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("deletionVectors", true).putBoolean("retainRemoved", true)
      .putLong("logRetention", 1).putStringArray("clusterBy", Array("nope")).build()
    Seq((1, "a")).toDF("id", "s").select(col("id"), col("s").as("s", md))
      .write.format("btr").mode("overwrite").save(p)
    val (fs, root) = fsRoot(p)
    val body = graft.format.BtrJson.readFile(fs, new Path(root, BtrTableMeta.MetaFile))
    assert(body.contains(""""clusterBy":["nope"]"""), "the field metadata is in the meta file")
    assert(!BtrTableMeta.readDeletionVectors(fs, root))
    assert(!BtrTableMeta.readRetainRemoved(fs, root))
    assert(BtrTableMeta.readLogRetention(fs, root).isEmpty)
    assert(BtrTableMeta.readClusterBy(fs, root).isEmpty)
    // the next plain append sees no clustering declaration to validate
    Seq((2, "b")).toDF("id", "s").write.format("btr").mode("append").save(p)
    assert(spark.read.format("btr").load(p).count() == 2)
  }

  test("pure DV DELETE clusters by _file: one blob per touched file") {
    import spark.implicits._
    val p = tmp("dv-blob-per-file")
    (0 until 4000).map(i => (i, i % 11)).toDF("id", "v")
      .repartition(4)
      .write.format("btr").mode("append").option("btr.deletionVectors", "true").save(p)
    val (fs, root) = fsRoot(p)
    val files = BtrTableMeta.listDataFilesWithPartitions(fs, root)
    assert(files.length == 4)
    // a subquery delete: the semi-join shuffles target rows, so without
    // the _file clustering the positions of one file would scatter over
    // several write tasks → several blobs per file
    spark.sql(
      s"DELETE FROM graft.`$p` WHERE id IN (SELECT id FROM graft.`$p` WHERE v < 3)")
    val blobs = fs.listStatus(new Path(root, DeletionVector.DvDir))
      .map(_.getPath.getName).filter(!_.startsWith("."))
    assert(blobs.length == 4,
      s"expected one position blob per touched file, got ${blobs.length}: ${blobs.mkString(", ")}")
    // correctness: the masked table matches the predicate complement
    val left = spark.read.format("btr").load(p).agg(count("*"), sum("id")).collect()(0)
    val exp = (0 until 4000).filter(i => i % 11 >= 3)
    assert(left.getLong(0) == exp.length && left.getLong(1) == exp.map(_.toLong).sum)
  }

  test("mode=local: sort-only, no shuffle requirement") {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("btr.write.distribution", "local", "btr.clusterBy", "x"))
    val layout = BtrWriteLayout(tmp("layout-unit"),
      org.apache.spark.sql.types.StructType.fromDDL("x LONG, y INT"), opts, Nil)
    assert(layout.distribution.isInstanceOf[
      org.apache.spark.sql.connector.distributions.UnspecifiedDistribution])
    assert(layout.ordering.length == 1)
    val bad = intercept[IllegalArgumentException] {
      BtrWriteLayout(tmp("layout-unit"),
        org.apache.spark.sql.types.StructType.fromDDL("x LONG"),
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("btr.clusterBy", "zz")), Nil)
    }
    assert(bad.getMessage.contains("zz"))
  }
}
