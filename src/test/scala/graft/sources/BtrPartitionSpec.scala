package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hive-style partitioned layout: partitionBy writes
  * `<root>/<col>=<value>/part-*.btr`, reads synthesize the partition
  * columns from directory names, and partition filters prune whole
  * directories at planning time.
  */
class BtrPartitionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-partition-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def tmp(name: String) = s"/tmp/btr-part-spec/$name"

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val x = a.collect().map(_.toString).sorted
    val y = b.collect().map(_.toString).sorted
    assert(x.length == y.length, s"${x.length} vs ${y.length}")
    assert(x.toSeq == y.toSeq)
  }

  test("partitioned write/read round-trips with string partition column") {
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    orig.write.format("btr").partitionBy("l_returnflag")
      .mode("overwrite").save(tmp("li_part"))
    // layout on disk is hive-style (metadata dirs like _btr_log are
    // `_`-prefixed — invisible to scans, excluded here too)
    val dirs = new java.io.File(tmp("li_part")).listFiles()
      .filter(d => d.isDirectory && !d.getName.startsWith("_")).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("l_returnflag=")), dirs.mkString(","))
    val back = spark.read.format("btr").load(tmp("li_part"))
    assert(back.schema.fieldNames.toSet == orig.schema.fieldNames.toSet)
    assertSameRows(orig, back.select(orig.columns.map(col): _*))
  }

  test("partition filters prune whole directories at planning time") {
    val back = spark.read.format("btr").load(tmp("li_part"))
    def parts(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
        .inputPartitions.collect { case p: BtrInputPartition => p.file }.distinct.toSeq
    val all = parts(back.filter(col("l_orderkey").isNotNull))
    val one = parts(back.filter(col("l_returnflag") === "R"))
    assert(one.nonEmpty && one.size < all.size, s"${one.size} vs ${all.size}")
    assert(one.forall(_.contains("l_returnflag=R")))
    // correctness unchanged
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(back.filter(col("l_returnflag") === "R").count() ==
      orig.filter(col("l_returnflag") === "R").count())
    // no partition matches => zero files planned
    assert(parts(back.filter(col("l_returnflag") === "Z")).isEmpty)
  }

  test("multi-column + int/null partitions, special characters escape") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(3), Some("a/b c"), 1.5),
      (2L, Some(3), Some("plain"), 2.5),
      (3L, None, Some("plain"), 3.5),
      (4L, Some(7), None, 4.5)
    ).toDF("id", "bucket", "tag", "v")
    df.write.format("btr").partitionBy("bucket", "tag")
      .mode("overwrite").save(tmp("multi"))
    val back = spark.read.format("btr").load(tmp("multi"))
    assertSameRows(df, back.select(df.columns.map(col): _*))
    // null partition round-trips
    assert(back.filter(col("bucket").isNull).count() == 1)
    assert(back.filter(col("tag").isNull).count() == 1)
    // filters over int partitions prune
    assert(back.filter(col("bucket") === 7).count() == 1)
    assert(back.filter(col("bucket") > 5).count() == 1)
    // escaped value reads back exactly
    assert(back.filter(col("tag") === "a/b c").count() == 1)
  }

  test("aggregate pushdown still works on partitioned tables (count star + data cols)") {
    val back = spark.read.format("btr").load(tmp("li_part"))
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    val agg = back.agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")))
    val scan = agg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(scan.isInstanceOf[BtrAggScan], scan.getClass.toString)
    assert(agg.head.toString ==
      orig.agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey"))).head.toString)
    // min/max over the PARTITION column must not push down (not in footers)
    val pagg = back.agg(min(col("l_returnflag")))
    val pscan = pagg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(!pscan.isInstanceOf[BtrAggScan])
    assert(pagg.head.getString(0) == orig.agg(min(col("l_returnflag"))).head.getString(0))
  }

  test("GROUP BY partition column pushes to a metadata-only grouped scan") {
    val back = spark.read.format("btr").load(tmp("li_part"))
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    val agg = back.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
      .orderBy("l_returnflag")
    val scan = agg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(scan.isInstanceOf[BtrAggScan], scan.getClass.toString)
    val exp = orig.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
      .orderBy("l_returnflag")
    assert(agg.collect().map(_.toString).toSeq == exp.collect().map(_.toString).toSeq)

    // grouping by a DATA column cannot be metadata-only
    val dagg = back.groupBy("l_linestatus").agg(count(lit(1)))
    val dscan = dagg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(!dscan.isInstanceOf[BtrAggScan])
  }

  test("TIMESTAMP partition column: round-trip, pruning, hour retention DELETE") {
    import spark.implicits._
    val p = tmp("ts_hours")
    val base = java.time.Instant.parse("2026-03-01T00:00:00Z")
    val rows = (0 until 240).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds((i / 10) * 3600L + i % 10)), i.toLong)
    }
    rows.toDF("ev_ts", "v")
      .withColumn("ts_hour", date_trunc("hour", col("ev_ts")))
      .repartition(col("ts_hour"))
      .write.format("btr").partitionBy("ts_hour").mode("overwrite").save(p)
    // round-trip: partition values synthesize back to exact micros
    val back = spark.read.format("btr").load(p)
    assert(back.count() == 240)
    assert(back.schema("ts_hour").dataType == org.apache.spark.sql.types.TimestampType)
    val hours = back.select("ts_hour").distinct().collect().map(_.getTimestamp(0)).sorted
    assert(hours.length == 24)
    assert(hours.head.toInstant == base && hours.last.toInstant == base.plusSeconds(23 * 3600L))
    // pruning: a timestamp range filter plans only the matching directories
    def parts(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
        .inputPartitions.collect { case q: BtrInputPartition => q.file }.distinct.toSeq
    val cutoff = java.sql.Timestamp.from(base.plusSeconds(20 * 3600L))
    val pruned = parts(back.filter(col("ts_hour") >= cutoff))
    assert(pruned.size == 4, s"expected 4 hour dirs, planned ${pruned.size}")
    assert(back.filter(col("ts_hour") >= cutoff).count() == 40)
    // hour-grain retention DELETE stays metadata-only (directory drops)
    spark.conf.set("spark.sql.catalog.graft", classOf[BtrCatalog].getName)
    val decodes = ScanMetrics.during(spark) {
      spark.sql(s"DELETE FROM graft.`$p` WHERE ts_hour < TIMESTAMP '2026-03-01 12:00:00'")
    }(BtrScanMetrics.DecodedChunks)
    assert(decodes == 0, "retention DELETE decoded data")
    assert(spark.read.format("btr").load(p).count() == 120)
    assert(!new java.io.File(p).listFiles().map(_.getName)
      .exists(_.contains("2026-03-01T00")), "dropped hour dir still present")
  }

  test("TIMESTAMP_NTZ partition column round-trips") {
    import spark.implicits._
    val p = tmp("ntz_hours")
    spark.sql(
      """SELECT timestamp_ntz'2026-04-01 08:30:00' + make_interval(0,0,0,0,id,0,0) AS h,
        | id AS v FROM range(6)""".stripMargin)
      .write.format("btr").partitionBy("h").mode("overwrite").save(p)
    val back = spark.read.format("btr").load(p)
    assert(back.schema("h").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(back.count() == 6)
    val got = back.select("h").as[java.time.LocalDateTime].collect().sorted(
      Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _))
    assert(got.head == java.time.LocalDateTime.parse("2026-04-01T08:30:00"))
    assert(got.last == java.time.LocalDateTime.parse("2026-04-01T13:30:00"))
  }

  test("many small files pack into few tasks; key-grouped planning opts out") {
    import spark.implicits._
    val p = tmp("pack_many")
    // 120 tiny hour partitions, one file each — over the packing threshold
    (0 until 1200).map(i => (i % 120, i.toLong)).toDF("h", "v")
      .repartitionByRange(8, col("h"))
      .write.format("btr").partitionBy("h").mode("overwrite").save(p)
    def planned(df: DataFrame): Seq[org.apache.spark.sql.connector.read.InputPartition] =
      df.queryExecution.executedPlan.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
        .inputPartitions
    val back = spark.read.format("btr").load(p)
    val parts = planned(back)
    assert(parts.length < 120, s"expected packed splits, got ${parts.length}")
    val sliceFiles = parts.flatMap {
      case pk: BtrPackedInputPartition => pk.slices.map(_.file).toSeq
      case s: BtrInputPartition => Seq(s.file)
    }
    assert(sliceFiles.distinct.length == 120, "every file still planned exactly once")
    // rows and partition-value synthesis stay exact through the packed reader
    assert(back.count() == 1200)
    assert(back.groupBy("h").count().collect().forall(_.getLong(1) == 10))
    assert(back.filter(col("h") === 7).select("v").as[Long].collect().sorted.toSeq ==
      (0 until 1200).filter(_ % 120 == 7).map(_.toLong))
    // partition pruning composes: one matching dir -> one slice planned
    assert(planned(back.filter(col("h") === 7)).length == 1)
    // with key-grouped planning on, splits stay per-key (SPJ needs them)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val grouped = planned(spark.read.format("btr").load(p))
      assert(!grouped.exists(_.isInstanceOf[BtrPackedInputPartition]))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("equal-share packing lands near the session's parallelism") {
    import spark.implicits._
    val p = tmp("pack_share")
    // 100 tiny unpartitioned files: raw 128 MB packing would plan ~1-3
    // tasks; equal-share (open-cost-weighted work / cores) plans ≈ cores
    (0 until 5000).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .repartition(100).write.format("btr").mode("overwrite").save(p)
    val df = spark.read.format("btr").load(p)
    val planned = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions
    val want = spark.sparkContext.defaultParallelism
    assert(planned.length >= want && planned.length <= 2 * want + 1,
      s"expected ≈$want equal-share packed tasks over 100 files, got ${planned.length}")
    assert(df.count() == 5000)
  }

  test("packed splits survive mid-task close/resume (self-zip)") {
    import spark.implicits._
    // >64 tiny files (unpartitioned) → packed splits; rdd.zip(rdd.map)
    // makes DataSourceRDD close and re-open each partition's reader
    // within one task — the packed reader must resume the SAME slice,
    // not skip to the next (rows would silently vanish)
    val p = tmp("pack_zip")
    (0 until 8000).map(i => (i.toLong, i * 2.5)).toDF("v", "d")
      .repartition(100).write.format("btr").mode("overwrite").save(p)
    val df = spark.read.format("btr").load(p).select("v")
    val planned = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions
    assert(planned.exists(_.isInstanceOf[BtrPackedInputPartition]),
      s"precondition: expected packed splits over 100 files, got ${planned.length}")
    val rdd = df.rdd.map(_.getLong(0))
    val zipped = rdd.zip(rdd.map(_ => 1.0))
    assert(zipped.count() == 8000)
    assert(zipped.map(_._1).sum() == (0 until 8000).map(_.toLong).sum)
  }

  test("batch write spills past the open-partition cap instead of failing") {
    import spark.implicits._
    val p = tmp("spill_many")
    // ONE task, 300 partition values, interleaved so evicted partitions
    // reopen: 128-cap eviction must finalize+reopen, not refuse
    (0 until 3000).map(i => (i % 300, i.toLong)).toDF("k", "v")
      .coalesce(1).write.format("btr").partitionBy("k").mode("overwrite").save(p)
    val back = spark.read.format("btr").load(p)
    assert(back.count() == 3000)
    assert(back.select("k").distinct().count() == 300)
    assert(back.agg(sum($"v")).head.getLong(0) == (0 until 3000).map(_.toLong).sum)
    // every partition's rows are complete
    assert(back.filter($"k" === 7).select("v").as[Long].collect().sorted.toSeq ==
      (0 until 3000).filter(_ % 300 == 7).map(_.toLong))
  }

  test("evicted files stay hidden until task commit; abort removes every trace") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val p = tmp("evict_lifecycle")
    // raw-writer test: no overwrite commit cleans the dir, do it ourselves
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
      f.delete(); ()
    }
    rmRf(new java.io.File(p))
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    def allFiles(): Seq[java.io.File] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(p))
    }
    def visible(): Seq[java.io.File] =
      allFiles().filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_"))
    // 200 interleaved partition values in one writer → evictions past 128
    val w = new BtrPartitionedDataWriter(p, schema, Seq("k"), 4096, 3, 0, 1L,
      graft.format.BtrConfig.Default, writeId = "w1")
    (0 until 600).foreach(i =>
      w.write(InternalRow(UTF8String.fromString(s"k${i % 200}"), i.toLong)))
    assert(visible().isEmpty,
      s"files surfaced before task commit: ${visible().map(_.getName).take(3)}")
    assert(allFiles().exists(_.getName.startsWith("_tmp_")), "expected hidden temps")
    w.abort()
    assert(allFiles().isEmpty, s"abort left files: ${allFiles().map(_.getName).take(5)}")
    // a fresh attempt commits: every file surfaces, rows complete
    val w2 = new BtrPartitionedDataWriter(p, schema, Seq("k"), 4096, 3, 0, 2L,
      graft.format.BtrConfig.Default, writeId = "w2")
    (0 until 600).foreach(i =>
      w2.write(InternalRow(UTF8String.fromString(s"k${i % 200}"), i.toLong)))
    val msg = w2.commit().asInstanceOf[BtrMultiCommitMessage]
    assert(msg.messages.map(_.numRows).sum == 600)
    assert(visible().size >= 200)
    assert(!allFiles().exists(_.getName.startsWith("_tmp_")), "temps left after commit")
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(graft.format.BtrTableMeta.hadoopConf())
    graft.format.BtrTableMeta.write(fs, root, schema, 4096, 3, Seq("k"))
    assert(spark.read.format("btr").load(p).count() == 600)
  }

  test("append into partitioned table adds files under the right dirs") {
    import spark.implicits._
    val df1 = Seq((1L, "x"), (2L, "y")).toDF("id", "p")
    val df2 = Seq((3L, "x")).toDF("id", "p")
    df1.write.format("btr").partitionBy("p").mode("overwrite").save(tmp("appnd"))
    df2.write.format("btr").partitionBy("p").mode("append").save(tmp("appnd"))
    val back = spark.read.format("btr").load(tmp("appnd"))
    assert(back.count() == 3)
    assert(back.filter(col("p") === "x").count() == 2)
  }
}
