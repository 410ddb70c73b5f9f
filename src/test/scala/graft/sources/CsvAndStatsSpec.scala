package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the CSV source/sink mapping (SURVEY §2.1 rows 1 and 10:
  * the reference's YAML-schema CSV parser and btrtocsv reverse path)
  * and the commit-time ingest stats (`_btr_stats.json`, the analog of
  * the reference's `.stats` files, btrfiles/Parser.cpp:184-189).
  */
class CsvAndStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("csv-stats-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def tmp(name: String) = s"/tmp/btr-csv-spec/$name"

  test("csv -> btr -> csv round-trips the data (CSV source and sink)") {
    val orig = spark.read.parquet(s"$sf/part.parquet")
    // CSV sink from parquet (the reference's verification path direction)
    orig.coalesce(1).write.option("header", "true").option("delimiter", "|")
      .mode("overwrite").csv(tmp("part_csv"))
    // CSV source with explicit schema, then into btr
    graft.tools.CsvToBtr.run(spark, tmp("part_csv"), tmp("part_btr"), Some(orig.schema.json))
    val back = spark.read.format("btr").load(tmp("part_btr"))
    assert(back.count() == orig.count())
    val a = orig.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
    // and back out through the CSV sink
    graft.tools.BtrToCsv.run(spark, tmp("part_btr"), tmp("part_csv_out"))
    val csvBack = spark.read.option("header", "true").option("delimiter", "|")
      .schema(orig.schema).csv(tmp("part_csv_out"))
    assert(csvBack.collect().map(_.toString).sorted.toSeq == a.toSeq)
  }

  test("SKIP columns are parsed past but never compressed (metadata tag + skip list)") {
    import org.apache.spark.sql.types._
    val orig = spark.read.parquet(s"$sf/part.parquet")
    orig.coalesce(1).write.option("header", "true").option("delimiter", "|")
      .mode("overwrite").csv(tmp("part_skip_csv"))
    // p_brand skipped via schema metadata (the reference's SKIP type,
    // btrfiles/btrfiles.hpp:20-21), p_type via the explicit skip list
    val tagged = StructType(orig.schema.fields.map { f =>
      if (f.name == "p_brand")
        f.copy(metadata = new MetadataBuilder().putBoolean("skip", true).build())
      else f
    })
    graft.tools.CsvToBtr.run(spark, tmp("part_skip_csv"), tmp("part_skip_btr"),
      Some(tagged.json), skipCols = Seq("p_type"))
    val back = spark.read.format("btr").load(tmp("part_skip_btr"))
    assert(back.columns.toSet == orig.columns.toSet -- Set("p_brand", "p_type"))
    val a = orig.drop("p_brand", "p_type").collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq, "surviving columns round-trip unchanged")
    // an unknown skip name fails fast instead of silently writing all
    intercept[IllegalArgumentException] {
      graft.tools.CsvToBtr.run(spark, tmp("part_skip_csv"), tmp("part_skip_btr2"),
        Some(orig.schema.json), skipCols = Seq("no_such_col"))
    }
    // skipping everything is refused
    intercept[IllegalArgumentException] {
      graft.tools.CsvToBtr.run(spark, tmp("part_skip_csv"), tmp("part_skip_btr3"),
        Some(orig.schema.json), skipCols = orig.columns.toSeq)
    }
  }

  test("commit writes per-column ingest stats that match the data") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("aaa")), (None, Some("bb")), (Some(3L), None), (Some(4L), Some("aaa"))
    ).toDF("id", "s")
    df.coalesce(1).write.format("btr").mode("overwrite").save(tmp("stats_tbl"))
    val stats = graft.functions.BtrInspect.tableStats(spark, tmp("stats_tbl"))
      .collect().map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("rows"), r.getAs[Long]("nulls"), r.getAs[Long]("compressed_bytes")))
      .toMap
    assert(stats("id")._1 == 4L)
    assert(stats("id")._2 == 1L) // one null id
    assert(stats("s")._2 == 1L) // one null string
    assert(stats("id")._3 > 0L && stats("s")._3 > 0L)
  }

  test("ingest stats round-trip column names holding quotes and backslashes") {
    import spark.implicits._
    val p = tmp("stats_escaped")
    Seq((1L, "x"), (2L, "y")).toDF("a\"b", "c\\d")
      .write.format("btr").mode("overwrite").save(p)
    val dir = new org.apache.hadoop.fs.Path(p)
    val fs = dir.getFileSystem(graft.format.BtrTableMeta.hadoopConf())
    assert(graft.format.BtrTableMeta.readStatsRatios(fs, dir).keySet == Set("a\"b", "c\\d"))
    val stats = graft.functions.BtrInspect.tableStats(spark, p).collect()
      .map(r => r.getAs[String]("column") -> r.getAs[Long]("rows")).toMap
    assert(stats == Map("a\"b" -> 2L, "c\\d" -> 2L))
  }

  test("ingest stats aggregate across multiple writer tasks") {
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    orig.repartition(3).write.format("btr").mode("overwrite").save(tmp("li_stats"))
    val stats = graft.functions.BtrInspect.tableStats(spark, tmp("li_stats"))
    val rows = stats.select("rows").head.getLong(0)
    assert(rows == orig.count())
    // raw >= compressed for every column on this data
    val bad = stats.filter(col("compressed_bytes") > col("raw_bytes") * 2).count()
    assert(bad == 0)
  }
}
