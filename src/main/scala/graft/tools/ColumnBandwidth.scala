package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-column decompression-bandwidth measurement, shared by [[graft.Bench]]
  * (the `col_bw` artifact field) and [[BtrCli]] (the conversion CLI) so
  * the two surfaces report ONE comparable metric — mirrors the reference's
  * decompression-speed tool (`decompression-speed.cpp:205-238`: per-column
  * compressed/decompressed bytes, time, MB/s), naming the bottleneck column
  * instead of one whole-table number.
  *
  * Method, identical on both surfaces: compressed bytes come from the
  * footers (metadata-only `describe` aggregate); decompressed bytes are the
  * dense decoded size (fixed width × rows; strings/binary = payload +
  * 4-byte offset slot); time is a min-of-2 single-column `sum(hash(col))`
  * scan after one warmup rep — it includes scan orchestration on top of raw
  * decode (page-cache I/O, hashing), so it reads as END-TO-END per-column
  * bandwidth, a lower bound on the kernel's own rate (KernelBench is the
  * no-Spark kernel-isolated counterpart).
  */
object ColumnBandwidth {

  final case class ColStats(
      name: String, compBytes: Long, decompBytes: Long, sec: Double, mbps: Double) {
    def toJson: String =
      f""""$name":{"comp_bytes":$compBytes,"decomp_bytes":$decompBytes,"sec":$sec%.4f,"mbps":$mbps%.1f}"""
  }

  /** Measure every column of the btr table at `dir`, schema order. */
  def measure(spark: SparkSession, dir: String): Seq[ColStats] = {
    import org.apache.spark.sql.types._
    val df = spark.read.format("btr").load(dir)
    val compBytes: Map[String, Long] =
      graft.functions.BtrInspect.describe(spark, dir)
        .groupBy("column")
        .agg(org.apache.spark.sql.functions.sum("compressed_bytes").as("b"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nRows = df.count() // metadata-only on an unfiltered btr scan
    df.schema.fields.toSeq.map { f =>
      def scanOnce(): Unit = df.selectExpr(s"sum(hash(`${f.name}`))").collect()
      scanOnce() // warm: codegen + page cache
      val sec = Kit.minSecs(2)(scanOnce())
      val decomp: Long = f.dataType match {
        case IntegerType | FloatType | DateType => nRows * 4
        case LongType | DoubleType | TimestampType | TimestampNTZType => nRows * 8
        case BooleanType | ByteType => nRows
        case ShortType => nRows * 2
        case d: DecimalType if d.precision <= 18 => nRows * 8
        case StringType | BinaryType =>
          val r0 = df.selectExpr(s"sum(octet_length(`${f.name}`))").collect()(0)
          (if (r0.isNullAt(0)) 0L else r0.getLong(0)) + nRows * 4
        case _ => -1L
      }
      val mbps = if (sec > 0 && decomp > 0) decomp / 1e6 / sec else 0.0
      ColStats(f.name, compBytes.getOrElse(f.name, -1L), decomp, sec, mbps)
    }
  }

  def toJson(stats: Seq[ColStats]): String = stats.map(_.toJson).mkString("{", ",", "}")
}
