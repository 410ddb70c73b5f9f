package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** CSV ↔ btr conversion CLIs — the Spark analog of the reference's
  * conversion tools (tools/conversion/csvtobtr.cpp parse+compress path,
  * btrtocsv.cpp the reverse). The CSV parse itself is Spark's built-in
  * reader (SURVEY §2.1 maps the reference's YAML-schema CSV parser,
  * btrfiles/Parser.cpp:21-192, onto spark.read.schema(...).csv with
  * explicit nullValue handling); this tool supplies the schema plumbing
  * and the btr write, and prints the commit-time ingest stats.
  *
  * SKIP columns (the reference's SKIP-typed schema entries,
  * btrfiles/btrfiles.hpp:20-21, shared/Units.hpp:51): a column present in
  * the CSV can be excluded from the compressed output, either by tagging
  * its schema field with metadata `{"skip": true}` or by naming it in the
  * skip list — the parser still consumes the column, the writer drops it.
  *
  * Usage: CsvToBtr <csv path> <btr out dir> [schema json] [skip cols csv]
  *        BtrToCsv <btr dir> <csv out dir>
  */
object CsvToBtr {
  def run(
      spark: SparkSession,
      csvPath: String,
      outDir: String,
      schemaJson: Option[String],
      skipCols: Seq[String] = Nil
  ): Unit = {
    val reader = spark.read
      .option("header", "true")
      .option("delimiter", "|")
      .option("nullValue", "null")
    val df = schemaJson match {
      case Some(json) => reader.schema(DataType.fromJson(json).asInstanceOf[StructType]).csv(csvPath)
      case None => reader.option("inferSchema", "true").csv(csvPath)
    }
    val tagged = df.schema.fields.collect {
      case f if f.metadata.contains("skip") && f.metadata.getBoolean("skip") => f.name
    }
    val unknown = skipCols.filterNot(df.columns.contains)
    require(unknown.isEmpty, s"skip column(s) not in the CSV: ${unknown.mkString(",")}")
    val toDrop = (tagged ++ skipCols).distinct
    val out = if (toDrop.isEmpty) df else df.drop(toDrop: _*)
    require(out.columns.nonEmpty, "every column is marked SKIP; nothing to write")
    out.write.format("btr").mode("overwrite").save(outDir)
    graft.functions.BtrInspect.tableStats(spark, outDir).show(100, truncate = false)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CsvToBtr <csv path> <btr out dir> [schema json] [skip cols csv]")
    val skips = args.lift(3).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Kit.withSession("csv-to-btr")(run(_, args(0), args(1), args.lift(2).filter(_.nonEmpty), skips))
  }
}

object BtrToCsv {
  def run(spark: SparkSession, btrDir: String, outDir: String): Unit = {
    spark.read.format("btr").load(btrDir)
      .write.option("header", "true").option("delimiter", "|")
      .mode("overwrite").csv(outDir)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BtrToCsv <btr dir> <csv out dir>")
    Kit.withSession("btr-to-csv")(run(_, args(0), args(1)))
  }
}
