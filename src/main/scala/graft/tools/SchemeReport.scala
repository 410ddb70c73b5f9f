package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Scheme-selection telemetry for the opt-in legacy DOUBLE_BP pool: writes
  * a table's double/float-bearing columns twice under TRY_ALL — once with
  * the default pool and once with every scheme INCLUDING `doublebp`
  * enabled — then reports, per column, total compressed bytes and the
  * winning root scheme histogram in each configuration. Answers "does
  * DOUBLE_BP ever beat the default pool on this data?" with measured
  * bytes; the reference keeps DOUBLE_BP out of its default pool too
  * (scheme/SchemeType.hpp:49-53), and this report documents whether our
  * data agrees.
  *
  *   runMain graft.tools.SchemeReport <sfDir> <table1,table2,...> [out.json]
  */
object SchemeReport {
  private def hasDoubleLeaf(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasDoubleLeaf(e)
    case s: StructType => s.fields.exists(f => hasDoubleLeaf(f.dataType))
    case MapType(_, v, _) => hasDoubleLeaf(v)
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tables = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val lines = Kit.withSession("scheme-report")(report(_, sfDir, tables))
    args.lift(2).foreach(Kit.save(_, lines))
  }

  private def report(spark: SparkSession, sfDir: String, tables: Seq[String]): Seq[String] = {
    import BiCorpus.histJson
    // a non-empty btr.schemes REPLACES the pool, so "doublebp on" means
    // the full default pool plus doublebp
    val allSchemes = (graft.format.BtrConfig.intByName.keySet ++
      graft.format.BtrConfig.doubleByName.keySet ++
      graft.format.BtrConfig.stringByName.keySet).toSeq.sorted.mkString(",")
    val configs = Seq(
      "default" -> Map("btr.selection" -> "tryall"),
      "doublebp" -> Map("btr.selection" -> "tryall", "btr.schemes" -> allSchemes))

    val lines = new Kit.Lines
    for (table <- tables) {
      val src = spark.read.parquet(s"$sfDir/$table.parquet")
      val cols = src.schema.fields.filter(f => hasDoubleLeaf(f.dataType)).map(_.name).toSeq
      if (cols.isEmpty) {
        System.err.println(s"[scheme-report] $table: no double/float columns, skipped")
      } else {
        // config -> column -> (rootSchemeHistogram, bytes)
        val byCfg = configs.map { case (label, opts) =>
          val out = Kit.freshDir(s"/tmp/btr-scheme-report/$table-$label")
          val w = src.select(cols.map(org.apache.spark.sql.functions.col): _*)
            .write.format("btr").mode("overwrite")
          opts.foldLeft(w) { case (wr, (k, v)) => wr.option(k, v) }.save(out)
          label -> BiCorpus.schemeWins(spark, out)
        }.toMap
        val allCols = byCfg.values.flatMap(_.keys).toSeq.distinct.sorted
        for (c <- allCols) {
          val (dh, db) = byCfg("default").getOrElse(c, (Map.empty[String, Int], 0L))
          val (bh, bb) = byCfg("doublebp").getOrElse(c, (Map.empty[String, Int], 0L))
          val bpWins = bh.getOrElse("doublebp", 0)
          lines += s"""{"table":"$table","column":"$c","default_bytes":$db,""" +
            s""""doublebp_bytes":$bb,"doublebp_chunks_won":$bpWins,""" +
            s""""schemes_default":${histJson(dh)},"schemes_doublebp":${histJson(bh)}}"""
        }
      }
    }
    lines.toSeq
  }
}
