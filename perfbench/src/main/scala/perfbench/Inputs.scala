package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated inputs: the source tables replicated `copies` times in the
  * style of `graft.tools.ScaleUp` (replica i shifts its keys by i * 1e9,
  * so every replica's foreign keys point into its own replica), plus a
  * seeded perturbation: each replica moves its dates by -1, 0 or +1 days,
  * drawn from the seed. Row counts, value distributions and each
  * replica's row order (hence sortedness) are those of the source; the
  * same seed gives byte-identical files.
  *
  * A replica's file depends only on (table, replica, day shift), so each
  * is written once to `<inputs>/parts/` and a seed's table is a directory
  * of hard links to its replicas: `<dir>/<table>.parquet/part-0000i.parquet`,
  * plus `<dir>/<table>.json` with the table's rows, stored bytes, decoded
  * bytes and `sum(hash(*))`, written last (its presence marks the table
  * complete).
  */
object Inputs {
  /** Bump when the generated bytes change, so no stale input is reused. */
  val Version = "g3"
  private val K = 1000000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  private val dateCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))
  // tables ScaleUp keeps at one copy
  private val unreplicated = Set("nation", "region")

  /** `hashSum` is the table's `sum(hash(*))` as `Digest.countHash` gives it:
    * a sum of ints, so the replicas' sums add up to the table's exactly.
    */
  final case class TableInfo(rows: Long, files: Int, storedBytes: Long, decodedBytes: Long, hashSum: Long)

  def dir(cfg: Config, source: String, copies: Int): String =
    s"${cfg.inputs}/$Version-${new File(source).getName}-x$copies-s${cfg.seed}"

  /** The replica's date shift in days, a pure function of (seed, replica). */
  def dayShift(seed: Long, replica: Int): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + replica * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    java.lang.Math.floorMod(z, 3L).toInt - 1
  }

  /** Generates the missing tables of the seed's input and returns every table's info. */
  def ensure(spark: SparkSession, cfg: Config, source: String, copies: Int,
      tables: Seq[String]): Map[String, TableInfo] = {
    val root = dir(cfg, source, copies)
    new File(root).mkdirs()
    tables.map { t =>
      val meta = new File(s"$root/$t.json")
      if (!meta.exists()) generate(spark, cfg, source, root, t, copies)
      t -> readInfo(meta)
    }.toMap
  }

  private def generate(spark: SparkSession, cfg: Config, source: String, root: String,
      table: String, copies: Int): Unit = {
    val partsDir = new File(s"${cfg.inputs}/parts/$Version-${new File(source).getName}/$table")
    partsDir.mkdirs()
    val n = if (unreplicated(table)) 1 else copies
    val shifts = (0 until n).map(i => if (dateCols.contains(table)) dayShift(cfg.seed, i) else 0)
    def part(i: Int) = new File(partsDir, s"r$i-d${shifts(i)}.parquet")
    val missing = (0 until n).filterNot(i => new File(part(i).getPath + ".json").exists())
    // one single-partition write per missing replica, `cores` at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.cores)
    try {
      missing.map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = writePart(spark, s"$source/$table.parquet", table, i, shifts(i), part(i))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val tmp = new File(s"$root/$table.parquet.tmp")
    Files2.rmrf(tmp)
    tmp.mkdirs()
    (0 until n).foreach { i =>
      java.nio.file.Files.createLink(new File(tmp, f"part-$i%05d.parquet").toPath, part(i).toPath)
    }
    val dst = new File(s"$root/$table.parquet")
    Files2.rmrf(dst)
    require(tmp.renameTo(dst), s"rename $tmp")
    val parts = (0 until n).map(i => readInfo(new File(part(i).getPath + ".json")))
    val info = TableInfo(parts.map(_.rows).sum, n, parts.map(_.storedBytes).sum, parts.map(_.decodedBytes).sum,
      parts.map(_.hashSum).sum)
    writeInfo(new File(s"$root/$table.json"), info)
    Log(s"input $table x$n: ${info.rows} rows, ${info.storedBytes} bytes (${missing.size} replicas written)")
  }

  /** Writes replica `i` of `table` with its dates moved by `shift` days
    * as the single Parquet file `dst` (no checksums or markers), and its
    * info next to it.
    */
  private def writePart(spark: SparkSession, src: String, table: String, i: Int, shift: Int, dst: File): Unit = {
    val keyed = keyCols.getOrElse(table, Nil).foldLeft(spark.read.parquet(src)) { (d, c) =>
      if (i == 0) d else d.withColumn(c, col(c) + lit(i * K))
    }
    val df = dateCols.getOrElse(table, Nil).foldLeft(keyed) { (d, c) =>
      d.withColumn(c, col(c) + make_dt_interval(lit(shift)))
    }
    val tmp = new File(dst.getPath + ".tmp")
    Files2.rmrf(tmp)
    df.coalesce(1).write.parquet(tmp.getPath)
    val files = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(files.length == 1, s"$table replica $i: ${files.length} files")
    require(files.head.renameTo(dst), s"rename ${files.head}")
    Files2.rmrf(tmp)
    val written = spark.read.parquet(dst.getPath)
    val (rows, hashSum) = Digest.countHash(written)
    writeInfo(new File(dst.getPath + ".json"), TableInfo(rows, 1, dst.length(), decodedBytes(written, rows), hashSum))
  }

  private def writeInfo(f: File, info: TableInfo): Unit =
    Files2.write(f.getPath, Json.obj(Seq(
      "rows" -> info.rows.toString, "files" -> info.files.toString,
      "stored_bytes" -> info.storedBytes.toString, "decoded_bytes" -> info.decodedBytes.toString,
      "hash_sum" -> info.hashSum.toString)))

  private def readInfo(f: File): TableInfo = {
    val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def field(k: String): Long = {
      val m = ("\"" + k + "\": (-?\\d+)").r.findFirstMatchIn(s)
      m.getOrElse(throw new IllegalStateException(s"$f lacks $k")).group(1).toLong
    }
    TableInfo(field("rows"), field("files").toInt, field("stored_bytes"), field("decoded_bytes"), field("hash_sum"))
  }

  /** Decoded size as `graft.tools.ColumnBandwidth` defines it: fixed
    * width x rows; strings and binaries payload plus a 4-byte offset;
    * arrays their elements' widths plus a 4-byte offset per row.
    */
  def decodedBytes(df: DataFrame, rows: Long): Long = {
    import org.apache.spark.sql.types._
    def width(dt: DataType): Int = dt match {
      case BooleanType | ByteType => 1
      case ShortType => 2
      case IntegerType | FloatType | DateType => 4
      case _ => 8
    }
    var fixed = 0L
    val varExprs = Seq.newBuilder[Column]
    df.schema.fields.foreach { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case StringType | BinaryType =>
          fixed += 4 * rows
          varExprs += coalesce(sum(octet_length(c)), lit(0L))
        case ArrayType(et, _) =>
          fixed += 4 * rows
          varExprs += coalesce(sum(when(c.isNotNull, size(c)).cast("long") * width(et)), lit(0L))
        case dt => fixed += width(dt).toLong * rows
      }
    }
    val v = varExprs.result()
    fixed + (if (v.isEmpty) 0L else {
      val r = df.agg(v.head, v.tail: _*).head()
      (0 until r.length).map(r.getLong).sum
    })
  }
}
