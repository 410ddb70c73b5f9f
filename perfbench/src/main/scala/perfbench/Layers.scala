package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

import graft.format._
import graft.sources.{BtrChunkRange, BtrColumnarReader, BtrInputPartition}

/** The layers below Spark, driven directly on one btr table's own files
  * with no scheduler: `graft.format` codecs (bytes already in memory)
  * and the `graft.sources` columnar reader, against Spark's vectorized
  * Parquet reader on the input the table was written from.
  */
object Layers {
  private val Reps = 2

  private final case class Chunk(file: Int, tag: Int, rows: Int, off: Int, len: Int, decodedBytes: Long)

  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("."))
      .sortBy(_.getName).toSeq

  private def tagOf(footer: BtrFile.Footer, schema: StructType, c: Int): Int =
    if (footer.tagOf(c) != 0) footer.tagOf(c) else PhysType.of(schema(c).dataType)

  private def family(tag: Int): String =
    if (PhysType.isStringFamily(tag)) "string"
    else if (tag == PhysType.Double) "double"
    else "int"

  /** Scheme family and top-level scheme name of a `BtrInspect.describe` row. */
  def schemeName(colType: String, tree: String): String = {
    val fam = colType match {
      case "string" | "binary" => "string"
      case "double" => "double"
      case _ => "int"
    }
    s"$fam.${tree.takeWhile(c => c != '(')}"
  }

  /** The format layer's metrics, over every file of the btr table `dir`. */
  def format(ctx: Ctx, dir: String): Unit = {
    val schema = BtrTableMeta.readSchema(
      new Path(dir).getFileSystem(BtrTableMeta.hadoopConf()), new Path(dir))
    val files = dataFiles(dir)
    val bytes = files.map(f => java.nio.file.Files.readAllBytes(f.toPath))
    val op = ctx.currentOp

    val footerUs = mutable.ArrayBuffer.empty[Double]
    val footers = ctx.tracer.span("format.readFooter", op) {
      (0 until Reps + 1).map { r =>
        bytes.map { b =>
          val (f, s) = Stats.secs(BtrFile.readFooter(b))
          if (r > 0) footerUs += s * 1e6
          f
        }
      }.last
    }

    val chunks = for {
      (footer, fi) <- footers.zipWithIndex
      rg <- footer.rowGroups.toSeq
      c <- rg.columns.indices
    } yield {
      val tag = tagOf(footer, schema, c)
      val m = rg.columns(c)
      val dec = ChunkCodec.decode(new BufReader(bytes(fi), m.offset.toInt, m.offset.toInt + m.length), tag, rg.numRows)
      val decoded =
        if (PhysType.isStringFamily(tag)) dec.strLens.map(_.toLong).sum + 4L * rg.numRows
        else if (tag == PhysType.Double) 8L * rg.numRows
        else PhysType.physWidth(tag).toLong * rg.numRows
      Chunk(fi, tag, rg.numRows, m.offset.toInt, m.length, decoded)
    }

    // decode: every chunk, Reps times after one warm pass; median per family
    val famNs = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    ctx.tracer.span("format.decodeForScan", op) {
      (0 to Reps).foreach { r =>
        val ns = mutable.Map.empty[String, Long].withDefaultValue(0L)
        chunks.foreach { ch =>
          val t0 = System.nanoTime()
          ChunkCodec.decodeForScan(new BufReader(bytes(ch.file), ch.off, ch.off + ch.len), ch.tag, ch.rows)
          ns(family(ch.tag)) += System.nanoTime() - t0
        }
        if (r > 0) ns.foreach { case (k, v) => famNs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      }
    }
    val famMedNs = famNs.map { case (k, v) => k -> Stats.median(v.map(_.toDouble).toSeq) }.toMap
    val values = chunks.map(_.rows.toLong).sum
    val decodeNs = famMedNs.values.sum
    ctx.metric("format.decode_ns_per_value", decodeNs / values, "ns")
    Seq("int", "double", "string").foreach { fam =>
      val b = chunks.filter(ch => family(ch.tag) == fam).map(_.decodedBytes).sum
      val ns = famMedNs.getOrElse(fam, 0.0)
      ctx.metric(s"format.decode_${fam}_gbps", if (ns > 0) b / ns else 0.0, "GB/s")
    }
    ctx.metric("format.chunks", chunks.size.toDouble, "count")
    ctx.metric("format.footer_read_us", Stats.median(footerUs.toSeq), "us")
    ctx.info("format.decode_ns_total") = Json.num(decodeNs)
    ctx.info("format.values") = values.toString

    encode(ctx, bytes.head, chunks.filter(ch => ch.file == 0).take(EncodeGroups * schema.length))
  }

  // encoding runs at about a twentieth of decode speed: two row groups of
  // the first file keep it to seconds
  private val EncodeGroups = 2

  /** Encode cost on the first file's first row groups: the default (sampling)
    * selection, the same chunks forced to the scheme the selector chose
    * (the difference is selection time), and try-all selection (the
    * smallest size any candidate reaches).
    */
  private def encode(ctx: Ctx, bytes: Array[Byte], chunks: Seq[Chunk]): Unit = {
    val cols = chunks.map { ch =>
      val dec = ChunkCodec.decode(new BufReader(bytes, ch.off, ch.off + ch.len), ch.tag, ch.rows)
      val cc = new ColumnChunk(ch.tag, ch.rows)
      cc.isNull = dec.isNull
      if (PhysType.isStringFamily(ch.tag)) {
        val s = new Array[Array[Byte]](ch.rows)
        var pos = 0
        var i = 0
        while (i < ch.rows) {
          s(i) = java.util.Arrays.copyOfRange(dec.strBytes, pos, pos + dec.strLens(i))
          pos += dec.strLens(i)
          i += 1
        }
        cc.strings = s
      } else if (ch.tag == PhysType.Double) cc.doubles = dec.doubles
      else cc.longs = dec.longs
      // the scheme byte follows the null map
      val in = new BufReader(bytes, ch.off, ch.off + ch.len)
      NullMap.decodeWithFlag(in, ch.rows)
      (cc, in.getByte())
    }
    val depth = BtrFile.DefaultCascadeDepth
    def forced(tag: Int, scheme: Int): BtrConfig =
      if (PhysType.isStringFamily(tag)) BtrConfig.Default.copy(forceString = Some(scheme))
      else if (tag == PhysType.Double) BtrConfig.Default.copy(forceDouble = Some(scheme))
      else BtrConfig.Default.copy(forceInt = Some(scheme))
    def encodeAll(cfgOf: (ColumnChunk, Int) => BtrConfig): (Double, Long) = {
      var ns = 0L
      var size = 0L
      cols.foreach { case (cc, scheme) =>
        val out = new BufWriter(1 << 20)
        val cfg = cfgOf(cc, scheme)
        val t0 = System.nanoTime()
        ChunkCodec.encode(out, cc, depth, cfg)
        ns += System.nanoTime() - t0
        size += out.result().length
      }
      (ns.toDouble, size)
    }
    val op = ctx.currentOp
    val values = cols.map(_._1.count.toLong).sum
    encodeAll((_, _) => BtrConfig.Default) // warm
    val dflt = ctx.tracer.span("format.encode", op) {
      (0 until Reps).map(_ => encodeAll((_, _) => BtrConfig.Default))
    }
    val frc = ctx.tracer.span("format.encode_forced", op) {
      (0 until Reps).map(_ => encodeAll((cc, s) => forced(cc.tag, s)))
    }
    val tryAll = ctx.tracer.span("format.encode_tryall", op) {
      encodeAll((_, _) => BtrConfig.Default.copy(tryAll = true))
    }
    val dfltNs = Stats.median(dflt.map(_._1))
    ctx.metric("format.encode_ns_per_value", dfltNs / values, "ns")
    ctx.metric("format.select_ns_per_value", (dfltNs - Stats.median(frc.map(_._1))) / values, "ns")
    ctx.metric("format.select_bytes_over_tryall", dflt.head._2.toDouble / tryAll._2, "ratio")
  }

  /** Codec-only decode time (ns) of one file's chunks for `cols`. */
  private def codecNs(bytes: Array[Byte], footer: BtrFile.Footer, schema: StructType, cols: Seq[Int]): Long = {
    var ns = 0L
    footer.rowGroups.foreach { rg =>
      cols.foreach { c =>
        val m = rg.columns(c)
        val t0 = System.nanoTime()
        ChunkCodec.decodeForScan(new BufReader(bytes, m.offset.toInt, m.offset.toInt + m.length),
          tagOf(footer, schema, c), rg.numRows)
        ns += System.nanoTime() - t0
      }
    }
    ns
  }

  /** Nanoseconds to read `cols` of one btr file through the program's
    * columnar reader on this thread (a cheap consumer: row counts only).
    */
  private def readerNs(file: File, footer: BtrFile.Footer, schema: StructType, cols: Seq[Int]): Long = {
    var first = 0L
    val groups = footer.rowGroups.map { rg =>
      val g = BtrChunkRange(rg.numRows, cols.map(c => rg.columns(c).offset).toArray,
        cols.map(c => rg.columns(c).length).toArray, first)
      first += rg.numRows
      g
    }
    val part = BtrInputPartition(file.getAbsolutePath, groups,
      fileTags = cols.map(c => tagOf(footer, schema, c)).toArray)
    val reader = new BtrColumnarReader(part, StructType(cols.map(schema(_))))
    val t0 = System.nanoTime()
    var rows = 0L
    try while (reader.next()) rows += reader.get().numRows()
    finally reader.close()
    val ns = System.nanoTime() - t0
    require(rows == footer.numRows, s"reader returned $rows of ${footer.numRows} rows")
    ns
  }

  private def parquetNs(file: String, cols: Seq[String]): (Long, Long) = {
    val r = new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(false, 4096)
    val t0 = System.nanoTime()
    var rows = 0L
    try {
      r.initialize(file, java.util.Arrays.asList(cols: _*))
      val batch = r.resultBatch() // allocates the vectors
      while (r.nextBatch()) rows += batch.numRows()
    } finally r.close()
    (System.nanoTime() - t0, rows)
  }

  /** The reader layer on the first file of the btr table `dir`, and the
    * Parquet reader on the first file of `parquetDir`, all columns and
    * each of `narrow` alone.
    */
  def reader(ctx: Ctx, dir: String, parquetDir: String, narrow: Seq[String]): Unit = {
    val fs = new Path(dir).getFileSystem(BtrTableMeta.hadoopConf())
    val schema = BtrTableMeta.readSchema(fs, new Path(dir))
    val file = dataFiles(dir).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val footer = BtrFile.readFooter(bytes)
    val rows = footer.numRows.toDouble
    val all = schema.indices
    val op = ctx.currentOp
    def med(body: => Long): Double = { body; Stats.median((1 to Reps + 2).map(_ => body.toDouble)) }

    val fullNs = ctx.tracer.span("sources.reader.full", op)(med(readerNs(file, footer, schema, all)))
    val codec = ctx.tracer.span("format.decode.file", op)(med(codecNs(bytes, footer, schema, all)))
    val narrowNs = ctx.tracer.span("sources.reader.narrow", op) {
      narrow.map(n => med(readerNs(file, footer, schema, Seq(schema.fieldIndex(n)))))
    }
    val pqFile = new File(parquetDir).listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val pqRows = parquetNs(pqFile.getPath, schema.fieldNames.toSeq)._2
    val pqNs = ctx.tracer.span("parquet.reader.full", op) {
      med(parquetNs(pqFile.getPath, schema.fieldNames.toSeq)._1)
    }
    ctx.metric("sources.reader_ns_per_row", fullNs / rows, "ns")
    ctx.metric("sources.reader_narrow_ns_per_row", narrowNs.sum / narrowNs.size / rows, "ns")
    ctx.metric("sources.fill_share", (fullNs - codec) / fullNs, "ratio")
    ctx.metric("parquet.reader_ns_per_row", pqNs / pqRows, "ns")
  }

  /** Scheme counts over the table's chunks, from `BtrInspect.describe`. */
  val Schemes: Seq[String] = Seq(
    "int.raw", "int.one_value", "int.for_bp", "int.delta_bp", "int.dict", "int.rle", "int.freq", "int.pfor",
    "double.raw", "double.one_value", "double.dict", "double.rle", "double.freq", "double.pseudodec",
    "double.alp", "string.raw", "string.one_value", "string.dict", "string.fsst")

  def schemes(ctx: Ctx, dir: String): Unit = {
    val rows = ctx.tracer.span("functions.BtrInspect.describe", ctx.currentOp) {
      graft.functions.BtrInspect.describe(ctx.spark, dir).select("col_type", "scheme_tree").collect()
    }
    val counts = rows.map(r => schemeName(r.getString(0), r.getString(1)))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    Schemes.foreach(s => ctx.metric(s"format.scheme_chunks.$s", counts.getOrElse(s, 0).toDouble, "count"))
    ctx.metric("format.scheme_chunks.other",
      counts.filter { case (k, _) => !Schemes.contains(k) }.values.sum.toDouble, "count")
  }

  /** Collector time of the process so far. */
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  }

  /** Sum of the heap pools' peak use over the run. */
  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  }
}
