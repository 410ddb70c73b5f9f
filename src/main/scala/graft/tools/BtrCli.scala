package graft.tools

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** CLI surface of the format — the analog of the reference's conversion
  * and decompression-speed tools. For each table it writes the parquet
  * table through the btr DSv2 writer, checks that the read-back content
  * equals the source, and reports:
  *   - per table: rows, write seconds, full-decode scan seconds (fastest
  *     of 3 `sum(hash(*))` scans after a warm one), planned scan splits,
  *     btr bytes and whether the content matched;
  *   - per column: decoded and compressed bytes, their ratio and decode
  *     MB/s ([[ColumnBandwidth.measure]], the bench's `col_bw` metric),
  *     and the chunks each root scheme won (footers via
  *     [[graft.functions.BtrInspect.describe]]).
  *
  * After the tables it prints the formatted plan of a filtered projection
  * over the written lineitem (when converted) and `ALL_MATCH`, and exits 1
  * when any table's read-back differs from its source.
  *
  *   runMain graft.tools.BtrCli <sfDir> [table,...=lineitem] [outDir=/tmp/btr-cli]
  */
object BtrCli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BtrCli <sfDir> [table,...] [outDir]")
    val tables = args.lift(1).getOrElse("lineitem").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val outDir = args.lift(2).getOrElse("/tmp/btr-cli")
    val allMatch = Kit.withSession("btr-cli")(run(_, args(0), tables, outDir))
    if (!allMatch) sys.exit(1)
  }

  /** Converts and reports every table; true when all of them round-trip. */
  def run(spark: SparkSession, sfDir: String, tables: Seq[String], outDir: String): Boolean = {
    val matched = tables.map(t => convert(spark, s"$sfDir/$t.parquet", t, s"$outDir/$t"))
    if (tables.contains("lineitem")) {
      println("--- explain (formatted) ---")
      spark.read.format("btr").load(s"$outDir/lineitem")
        .filter(col("l_orderkey") > 100).select("l_orderkey", "l_extendedprice")
        .explain("formatted")
    }
    val allMatch = matched.forall(identity)
    println(s"ALL_MATCH=$allMatch")
    allMatch
  }

  // order-insensitive full-content rendering; fields join on \u0001 so a
  // comma inside a string can't alias adjacent-column corruption the way
  // Row.toString's "[a,b,c]" rendering would
  private def render(r: Row): String =
    r.toSeq.map {
      case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString
      case other => String.valueOf(other)
    }.mkString("\u0001")

  private def convert(spark: SparkSession, src: String, table: String, path: String): Boolean = {
    val orig = spark.read.parquet(src)
    Kit.freshDir(path)
    val writeSec = Kit.secs(orig.write.format("btr").mode("overwrite").save(path))
    val back = spark.read.format("btr").load(path)
    val scanSec = Kit.warmMinSecs(back.selectExpr("sum(hash(*))"))
    val expected = orig.collect().map(render).sorted.toSeq
    val got = back.collect().map(render).sorted.toSeq
    val ok = got == expected
    val btrBytes = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".btr")).map(_.length).sum
    println(f"$table%-12s rows=${got.length}%8d write=$writeSec%6.2fs scan=$scanSec%6.3fs " +
      f"splits=${back.rdd.getNumPartitions}%4d btrBytes=$btrBytes%10d match=$ok")

    val schemes = BiCorpus.schemeWins(spark, path)
    println(f"  ${"column"}%-20s ${"type"}%-14s ${"raw"}%11s ${"comp"}%10s ${"ratio"}%7s ${"MB/s"}%9s  schemes")
    val stats = ColumnBandwidth.measure(spark, path)
    stats.foreach { c =>
      val ratio = if (c.decompBytes > 0 && c.compBytes > 0) f"${c.decompBytes.toDouble / c.compBytes}%7.2f" else f"${"-"}%7s"
      val hist = schemes.get(c.name).fold("{}")(w => BiCorpus.histJson(w._1))
      println(f"  ${c.name}%-20s ${back.schema(c.name).dataType.simpleString}%-14s ${c.decompBytes}%11d ${c.compBytes}%10d $ratio ${c.mbps}%9.1f  $hist")
    }
    val sized = stats.filter(c => c.decompBytes > 0 && c.compBytes > 0)
    val (raw, comp) = (sized.map(_.decompBytes).sum, sized.map(_.compBytes).sum)
    println(f"  TOTAL raw=$raw comp=$comp ratio=${raw.toDouble / comp}%.2f")
    ok
  }
}
