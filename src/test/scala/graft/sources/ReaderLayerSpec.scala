package graft.sources

import java.io.File

import graft.format.{BtrFile, BtrTableMeta, PhysType}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The btr reader layer: each chunk is read with a seek and a sequential
  * read on the split's one checksummed stream, and decoded into the
  * reader's reused buffers. Pins what the reuse must not break (a packed
  * split's slices share one buffer set), the bytes a scan reads and the
  * bytes a read allocates.
  */
class ReaderLayerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-reader-layer-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = s"/tmp/btr-reader-layer/$name"

  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_")).toSeq

  /** Every row a reader returns, as external rows. */
  private def drain(reader: PartitionReader[ColumnarBatch], schema: StructType): Seq[Row] = {
    val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    val out = Seq.newBuilder[Row]
    try while (reader.next()) reader.get().rowIterator().asScala.foreach(r => out += toRow(r))
    finally reader.close()
    out.result()
  }

  private def answer(rows: Seq[Row], schema: StructType): (Long, Long, Seq[String]) = {
    val df = spark.createDataFrame(rows.asJava, schema)
    val h = df.agg(count(lit(1)), coalesce(sum(hash(df.columns.map(col): _*).cast("long")), lit(0L))).head
    (h.getLong(0), h.getLong(1), rows.map(_.toString).sorted)
  }

  /** Three files whose slices differ in every way the shared buffers
    * could leak between them:
    *  - `a`: `k` stored as int32 (before the column widened to long),
    *    nulls in `x` and `s`, DICT chunks, row groups of 4,096 rows;
    *  - `b`: `k` as int64, no nulls, non-dict chunks, row groups of 1,024;
    *  - `c`: like `b` in type, like `a` in nulls, schemes and group size.
    */
  private lazy val hazards: String = {
    val p = tmp("hazards")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    def write(rows: Long, first: Long, kType: String, nulls: Boolean, dict: Boolean, block: Int,
        mode: String): Unit = {
      val nullIf = if (nulls) "id % 7 = 0" else "false"
      val w = spark.range(first, first + rows, 1, 1)
        .selectExpr("id",
          s"cast(id % 13 as $kType) AS k",
          s"if($nullIf, null, cast(id % 5 as double) * 1.25) AS x",
          s"if($nullIf, null, concat('v', cast(id % 11 as string))) AS s")
        .write.format("btr").option("btr.blockSize", block.toString)
      val forced = if (dict) "dict" else "uncompressed"
      w.option("btr.forceScheme.int", if (dict) "dict" else "forbp")
        .option("btr.forceScheme.double", forced).option("btr.forceScheme.string", forced)
        .mode(mode).save(p)
    }
    write(10000, 0, "int", nulls = true, dict = true, 4096, "overwrite")
    write(3000, 10000, "long", nulls = false, dict = false, 1024, "append")
    write(5000, 13000, "long", nulls = true, dict = true, 4096, "append")
    p
  }

  test("a packed split's shared buffers read what per-file reads read") {
    val df = spark.read.format("btr").load(hazards)
    val schema = df.schema
    assert(schema("k").dataType == LongType, "precondition: k widened to long")
    val slices = ScanGroups.planned(df).flatMap(ScanGroups.slicesOf).groupBy(_.file).values
      .map(ss => ss.head.copy(groups = ss.flatMap(_.groups).sortBy(_.firstOrdinal).toArray)).toSeq
    assert(slices.length == 3, "precondition: one slice per file")
    assert(slices.exists(_.fileTags.contains(PhysType.Int32)), "precondition: an int32 file")
    assert(slices.map(_.groups.map(_.numRows).max).distinct.length == 2,
      "precondition: files of different row-group sizes")
    val perFile = slices.flatMap(s => drain(new BtrColumnarReader(s, schema), schema))
    val expected = answer(perFile, schema)
    assert(expected._1 == 18000)
    // every order of the three slices, so each kind of slice follows each
    for (order <- slices.permutations) {
      val packed = BtrPackedInputPartition(order.toArray)
      val got = answer(drain(new BtrPackedColumnarReader(packed, schema, Array.empty), schema), schema)
      assert(got == expected, s"slice order ${order.map(s => new Path(s.file).getName)}")
    }
    // and through Spark: one packed share against one split per row group
    def viaSpark(par: Int) = {
      val d = spark.read.format("btr").option("btr.splitParallelism", par.toString).load(hazards)
      answer(d.collect().toSeq, schema)
    }
    assert(ScanGroups.planned(spark.read.format("btr").option("btr.splitParallelism", "1").load(hazards))
      .head.isInstanceOf[BtrPackedInputPartition], "precondition: one packed share")
    assert(viaSpark(1) == expected)
    assert(viaSpark(64) == expected)
  }

  /** A lineitem-shaped table: 60,000 rows of 11 columns (keys, a line
    * number, four decimal-valued doubles, two flag strings and a date
    * timestamp) in one file of eight 8,192-row groups.
    */
  private lazy val lineitem: String = {
    val p = tmp("lineitem")
    spark.range(0, 60000, 1, 1).selectExpr(
      "id AS orderkey", "(id * 7919) % 200000 AS partkey", "(id * 104729) % 10000 AS suppkey",
      "cast(id % 7 + 1 AS int) AS linenumber",
      "cast((id * 31) % 50 + 1 AS double) AS quantity",
      "cast((id * 7919) % 10000000 AS double) / 100 AS extendedprice",
      "cast(id % 11 AS double) / 100 AS discount",
      "cast(id % 9 AS double) / 100 AS tax",
      "substr('ANR', cast(id % 3 AS int) + 1, 1) AS returnflag",
      "if(id % 2 = 0, 'O', 'F') AS linestatus",
      "timestamp_micros(694224000000000 + (id % 2526) * 86400000000) AS shipdate")
      .write.format("btr").option("btr.blockSize", "8192").mode("overwrite").save(p)
    p
  }

  test("a full-width scan reads no more than its data files and their checksums") {
    val dir = lineitem
    val stored = dataFiles(dir).map { f =>
      f.length() + new File(f.getParentFile, s".${f.getName}.crc").length()
    }.sum
    val group = "btr-reader-io"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    def groupOf(props: java.util.Properties) =
      if (props == null) null else props.getProperty("spark.jobGroup.id")
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e.properties) == s"$group-marker") markerJobs.add(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
          tasks.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    val df = spark.read.format("btr").load(dir)
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "full-width btr scan")
      val r = try df.agg(count(lit(1)), sum(hash(df.columns.map(col): _*).cast("long"))).head
      finally sc.clearJobGroup()
      assert(r.getLong(0) == 60000)
      // listeners see events in order: once a later job's end arrives,
      // every task end of the scan has been delivered
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(tasks.get() > 1, s"precondition: a multi-task scan, got ${tasks.get()}")
    assert(bytesRead.get() > 0, "the scan reported no input bytes")
    assert(bytesRead.get() <= stored,
      s"scan read ${bytesRead.get()} bytes, more than its files and checksums ($stored)")
  }

  test("a single-thread full-width read allocates a third of the bytes per row it did") {
    val dir = lineitem
    val file = dataFiles(dir).head
    val fs = new Path(dir).getFileSystem(BtrTableMeta.hadoopConf())
    val schema = BtrTableMeta.readSchema(fs, new Path(dir))
    val footer = BtrFile.readFooter(fs, new Path(file.getPath), file.length())
    assert(footer.rowGroups.length >= 3, "precondition: at least three row groups")
    var first = 0L
    val groups = footer.rowGroups.map { rg =>
      val g = BtrChunkRange(rg.numRows, rg.columns.map(_.offset), rg.columns.map(_.length), first)
      first += rg.numRows
      g
    }
    val part = BtrInputPartition(file.getPath, groups,
      fileTags = schema.indices.map(c => footer.tagOf(c)).toArray)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    // bytes per row after the first group: the reader's vectors and
    // buffers are sized by then, so this is what each further chunk costs
    def steadyBytesPerRow(): Double = {
      val reader = new BtrColumnarReader(part, schema)
      try {
        assert(reader.next())
        val skipped = reader.get().numRows()
        val a0 = mx.getCurrentThreadAllocatedBytes
        var rows = 0L
        while (reader.next()) rows += reader.get().numRows()
        val bytes = mx.getCurrentThreadAllocatedBytes - a0
        assert(rows + skipped == footer.numRows)
        bytes.toDouble / rows
      } finally reader.close()
    }
    (1 to 5).foreach(_ => steadyBytesPerRow()) // JIT warm-up
    val perRow = (1 to 5).map(_ => steadyBytesPerRow()).min
    assert(perRow <= BytesPerRowBeforeReuse / 3,
      f"reader allocated $perRow%.1f B/row, over a third of $BytesPerRowBeforeReuse%.0f")
  }

  /** What this read allocated per row when every chunk read opened a
    * fresh checksum reader (positional `readFully`, with its stream
    * buffers) and decoded into fresh arrays (a long per value, the
    * bit-packed words and a null flag per value): 175 B/row, measured
    * with this test. Decoding into the reader's buffers on its one
    * stream brought it to about 7.
    */
  private val BytesPerRowBeforeReuse = 175.0
}
