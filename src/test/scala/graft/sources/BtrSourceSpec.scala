package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DSv2 tests: parquet → btr write → btr read → equality,
  * plus pruning/pushdown plan checks (mirrors the reference's
  * verify-on-write path, tools/conversion/csvtobtr.cpp:49-66).
  */
class BtrSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-source-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def tmp(name: String) = s"/tmp/btr-spec/$name"

  private def roundTrip(table: String, repartition: Int = 2): (DataFrame, DataFrame) = {
    val orig = spark.read.parquet(s"$sf/$table.parquet")
    orig.repartition(repartition).write.format("btr").mode("overwrite").save(tmp(table))
    val back = spark.read.format("btr").load(tmp(table))
    (orig, back)
  }

  private def assertSameRows(orig: DataFrame, back: DataFrame): Unit = {
    assert(back.schema.map(f => (f.name, f.dataType)) == orig.schema.map(f => (f.name, f.dataType)))
    val a = orig.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.length == b.length, s"row count ${a.length} vs ${b.length}")
    var i = 0
    while (i < a.length) {
      assert(a(i) == b(i), s"row $i: ${a(i)} vs ${b(i)}")
      i += 1
    }
  }

  test("lineitem round-trips (ints, doubles, strings, timestamp_ntz)") {
    val (orig, back) = roundTrip("lineitem")
    assertSameRows(orig, back)
  }

  test("all small tables round-trip") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders", "events", "documents")) {
      val (orig, back) = roundTrip(t, repartition = 1)
      assertSameRows(orig, back)
    }
  }

  test("column pruning reaches the scan") {
    roundTrip("lineitem")
    val df = spark.read.format("btr").load(tmp("lineitem")).select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(df.collect().length > 0)
    // ReadSchema should contain only the two projected columns
    val readSchema = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .scan.readSchema()
    assert(readSchema.fieldNames.toSet == Set("l_orderkey", "l_quantity"), readSchema.treeString)
  }

  test("filter pushdown skips chunks without changing results") {
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    // small blocks so skipping has something to skip
    orig.sort("l_orderkey").coalesce(1).write.format("btr")
      .option("btr.blockSize", "512").mode("overwrite").save(tmp("lineitem_small"))
    val back = spark.read.format("btr").load(tmp("lineitem_small"))
    val maxKey = orig.agg(max("l_orderkey")).head.getLong(0)
    val expected = orig.filter(col("l_orderkey") > maxKey - 10).count()
    val got = back.filter(col("l_orderkey") > maxKey - 10).count()
    assert(got == expected)
    // partition planning must produce fewer splits than total groups
    val survivingGroups = ScanGroups.surviving(back.filter(col("l_orderkey") > maxKey - 10))
    val allGroups = ScanGroups.surviving(spark.read.format("btr").load(tmp("lineitem_small")))
    assert(survivingGroups < allGroups, s"expected chunk skipping: $survivingGroups vs $allGroups")
  }

  test("string predicate skips all chunks when value is out of bounds") {
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    orig.sort("l_returnflag").coalesce(1).write.format("btr")
      .option("btr.blockSize", "512").mode("overwrite").save(tmp("lineitem_str"))
    val back = spark.read.format("btr").load(tmp("lineitem_str"))

    // 'Z' is above every l_returnflag value -> every row group pruned
    val none = back.filter(col("l_returnflag") === "Z")
    assert(none.count() == 0)
    assert(ScanGroups.surviving(none) == 0, "expected all row groups pruned for 'Z'")

    // 'R' exists: results match parquet, and sorting means some groups pruned
    val r = back.filter(col("l_returnflag") === "R")
    assert(r.count() == orig.filter(col("l_returnflag") === "R").count())
    assert(ScanGroups.surviving(r) < ScanGroups.surviving(back.filter(col("l_returnflag").isNotNull)),
      "expected partial pruning on sorted string column")
  }

  test("string bound truncation stays conservative for long strings") {
    import spark.implicits._
    val longA = "a" * 40
    val longZ = "z" * 40 + "!"
    val df = Seq(longA, longZ, "middle").toDF("s")
    df.coalesce(1).write.format("btr").mode("overwrite").save(tmp("longstr"))
    val back = spark.read.format("btr").load(tmp("longstr"))
    // filters on values inside/outside the truncated bounds stay correct
    assert(back.filter(col("s") === longZ).count() == 1)
    assert(back.filter(col("s") === longA).count() == 1)
    assert(back.filter(col("s") > "z" * 41).count() == 0)
    assert(back.filter(col("s") < "a").count() == 0)
  }

  test("scan planning reads only the footer (positioned tail read)") {
    roundTrip("nation", 1)
    val dir = new org.apache.hadoop.fs.Path(tmp("nation"))
    val fs = dir.getFileSystem(graft.format.BtrTableMeta.hadoopConf())
    val file = graft.format.BtrTableMeta.listDataFiles(fs, dir).head
    val len = fs.getFileStatus(file).getLen
    val viaTail = graft.format.BtrFile.readFooter(fs, file, len)
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(file); in.readFully(0, bytes); in.close()
    val viaFull = graft.format.BtrFile.readFooter(bytes)
    assert(viaTail.rowGroups.length == viaFull.rowGroups.length)
    assert(viaTail.numRows == viaFull.numRows)
    assert(viaTail.rowGroups.zip(viaFull.rowGroups).forall { case (a, b) =>
      a.numRows == b.numRows &&
        a.columns.zip(b.columns).forall { case (x, y) => x.offset == y.offset && x.length == y.length }
    })
  }

  test("orphaned writer temp files are ignored by scans") {
    roundTrip("region", 1)
    val dir = new org.apache.hadoop.fs.Path(tmp("region"))
    val fs = dir.getFileSystem(graft.format.BtrTableMeta.hadoopConf())
    val before = spark.read.format("btr").load(tmp("region")).count()
    // simulate an executor that died mid-write: garbage partial temp file
    val orphan = fs.create(new org.apache.hadoop.fs.Path(dir, "_tmp_part-99999-0.btr"), true)
    orphan.write("BTRGgarbage-partial-write".getBytes)
    orphan.close()
    assert(spark.read.format("btr").load(tmp("region")).count() == before)
  }

  test("array columns round-trip (embeddings table + edge shapes)") {
    // real embeddings table: (bigint, array<float>, int)
    val (orig, back) = roundTrip("embeddings")
    assertSameRows(orig, back)

    // edge shapes: null rows, empty arrays, null elements, mixed lengths
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(Some(1.5f), None, Some(-0.0f)))),
      (2L, Some(Seq.empty[Option[Float]])),
      (3L, None),
      (4L, Some(Seq(Some(Float.NaN), Some(Float.MaxValue))))
    ).toDF("id", "vec")
    df.write.format("btr").mode("overwrite").save(tmp("arr_edge"))
    assertSameRows(df, spark.read.format("btr").load(tmp("arr_edge")))

    // long/double/int element types
    val df2 = Seq(
      (1L, Seq(1L, Long.MinValue), Seq(0.25, -0.0), Seq(7, -7)),
      (2L, Seq.empty[Long], Seq(1.0), Seq(0))
    ).toDF("id", "vl", "vd", "vi")
    df2.write.format("btr").mode("overwrite").save(tmp("arr_types"))
    assertSameRows(df2, spark.read.format("btr").load(tmp("arr_types")))

    // describe walks array chunks without desync
    val trees = graft.functions.BtrInspect.describe(spark, tmp("embeddings"))
      .filter(col("column") === "embedding").select("scheme_tree").collect().map(_.getString(0))
    assert(trees.nonEmpty && trees.forall(t => t.startsWith("array(") && !t.contains("?")), trees.mkString(";"))
  }

  test("nulls, empty strings and appends round-trip") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (None, Some(""), None),
      (Some(3L), None, Some(-0.0)),
      (Some(Long.MinValue), Some("日本語"), Some(Double.NaN))
    ).toDF("id", "s", "d")
    df.write.format("btr").mode("overwrite").save(tmp("mixed"))
    val back = spark.read.format("btr").load(tmp("mixed"))
    assertSameRows(df, back)
    // append mode adds files
    df.write.format("btr").mode("append").save(tmp("mixed"))
    assert(spark.read.format("btr").load(tmp("mixed")).count() == 8)
  }

  test("ungrouped count/min/max push down to a metadata-only scan") {
    roundTrip("lineitem")
    val df = spark.read.format("btr").load(tmp("lineitem"))
      .agg(
        count(lit(1)).as("n"),
        count(col("l_orderkey")).as("nok"),
        min(col("l_orderkey")).as("mn"),
        max(col("l_orderkey")).as("mx"),
        min(col("l_shipdate")).as("mns"),
        max(col("l_shipdate")).as("mxs"))
    def scanOf(d: DataFrame) = d.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(scanOf(df).isInstanceOf[BtrAggScan], scanOf(df).getClass.toString)
    val got = df.head
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    val exp = orig.agg(
      count(lit(1)), count(col("l_orderkey")), min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_shipdate")), max(col("l_shipdate"))).head
    assert(got.toString == exp.toString)

    // with a filter present, pushdown must NOT happen (results would need
    // data reads) — plan falls back to the normal scan
    val filtered = spark.read.format("btr").load(tmp("lineitem"))
      .filter(col("l_quantity") > 10).agg(min(col("l_orderkey")))
    assert(scanOf(filtered).isInstanceOf[BtrScan])
    assert(filtered.head.getLong(0) ==
      orig.filter(col("l_quantity") > 10).agg(min(col("l_orderkey"))).head.getLong(0))

    // count over a column with nulls uses footer null counts
    import spark.implicits._
    Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c")).toDF("v", "s")
      .write.format("btr").mode("overwrite").save(tmp("nullcount"))
    val nc = spark.read.format("btr").load(tmp("nullcount"))
      .agg(count(col("v")), count(lit(1)), min(col("v")), max(col("v")))
    assert(scanOf(nc).isInstanceOf[BtrAggScan])
    val r = nc.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 3L, 1L, 3L)))
  }

  test("SUM pushes down to a metadata-only scan for integral and decimal columns") {
    import spark.implicits._
    def scanOf(d: DataFrame) = d.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    roundTrip("lineitem")
    val df = spark.read.format("btr").load(tmp("lineitem"))
      .agg(sum(col("l_orderkey")).as("s1"), sum(col("l_linenumber")).as("s2"),
        count(lit(1)).as("n"))
    assert(scanOf(df).isInstanceOf[BtrAggScan], scanOf(df).getClass.toString)
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    val exp = orig.agg(sum(col("l_orderkey")), sum(col("l_linenumber")), count(lit(1))).head
    assert(df.head.toString == exp.toString)

    // double sums stay on the data path (order-dependent) but stay correct
    val dbl = spark.read.format("btr").load(tmp("lineitem")).agg(sum(col("l_quantity")))
    assert(scanOf(dbl).isInstanceOf[BtrScan], "double sum must not push")
    assert(dbl.head.getDouble(0) == orig.agg(sum(col("l_quantity"))).head.getDouble(0))

    // AVG pushes for free: Spark's partial-pushdown rewrite splits it
    // into Sum + Count, both of which the footer scan answers
    val avg_ = spark.read.format("btr").load(tmp("lineitem")).agg(avg(col("l_orderkey")))
    if (scanOf(avg_).isInstanceOf[BtrAggScan])
      assert(avg_.head.getDouble(0) == orig.agg(avg(col("l_orderkey"))).head.getDouble(0))

    // decimal sums: exact through the BigInteger accumulator; nulls and
    // all-null columns behave like Spark (sum of all-null is null)
    val dec = Seq(
      (Some(BigDecimal("12345678901.234")), 1),
      (None, 2),
      (Some(BigDecimal("-0.001")), 3)
    ).toDF("d", "k").withColumn("d", col("d").cast("decimal(14,3)"))
      .withColumn("allnull", lit(null).cast("decimal(10,2)"))
    dec.write.format("btr").mode("overwrite").save(tmp("decsum"))
    val back = spark.read.format("btr").load(tmp("decsum"))
      .agg(sum(col("d")).as("sd"), sum(col("allnull")).as("sn"), sum(col("k")).as("sk"))
    assert(scanOf(back).isInstanceOf[BtrAggScan])
    val r = back.head
    assert(r.getDecimal(0) == new java.math.BigDecimal("12345678901.233"), r.getDecimal(0))
    assert(r.isNullAt(1), "sum of an all-null column is null")
    assert(r.getLong(2) == 6L)
  }

  test("pushed SUM overflow: ANSI raises, non-ANSI wraps like the data path") {
    import spark.implicits._
    def scanOf(d: DataFrame) = d.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    // true total = Long.MaxValue + 2: overflows under every execution order
    val vals = Seq(Long.MaxValue - 10L, 12L).toDF("v")
    vals.coalesce(1).write.format("btr").mode("overwrite").save(tmp("sumover"))
    val back = spark.read.format("btr").load(tmp("sumover"))

    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val q = back.agg(sum(col("v")))
      assert(scanOf(q).isInstanceOf[BtrAggScan])
      val e = intercept[Exception](q.head)
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      // Spark's own error class, not a bare ArithmeticException — error-
      // class-sensitive callers must see the same failure as unpushed Sum
      assert(chain(e).exists {
        case s: org.apache.spark.SparkThrowable =>
          s.getCondition == "ARITHMETIC_OVERFLOW" && s.isInstanceOf[ArithmeticException]
        case _ => false
      }, e.toString)

      spark.conf.set("spark.sql.ansi.enabled", "false")
      val wrapped = back.agg(sum(col("v"))).head.getLong(0)
      assert(wrapped == Long.MaxValue - 10L + 12L, // wraps to Long.MinValue + 1
        s"non-ANSI pushed sum must wrap exactly like Spark's long sum, got $wrapped")
      assert(wrapped == Long.MinValue + 1L)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("pushed SUM: wrapped chunk with fitting true total resums, not raises") {
    import spark.implicits._
    def scanOf(d: DataFrame) = d.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    // one chunk whose row-order running sum WRAPS (MaxValue then +10) but
    // whose true total fits in Long (MaxValue + 10 + MinValue = 9): the
    // footer's sumLong lost exactness, so ANSI must decode-and-resum the
    // chunk instead of raising — a non-overflowing execution order exists
    val vals = Seq(Long.MaxValue, 10L, Long.MinValue).toDF("v")
    vals.coalesce(1).write.format("btr").mode("overwrite").save(tmp("sumwrapfit"))
    val back = spark.read.format("btr").load(tmp("sumwrapfit"))
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val q = back.agg(sum(col("v")).as("s"))
      assert(scanOf(q).isInstanceOf[BtrAggScan])
      assert(q.head.getLong(0) == 9L)
      // non-ANSI wraps to the same value here (true total fits)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(back.agg(sum(col("v"))).head.getLong(0) == 9L)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("short and byte columns round-trip through the columnar reader") {
    import spark.implicits._
    val df = (0 until 5000).map { i =>
      (if (i % 11 == 0) None else Some((i % 320 - 160).toShort),
        if (i % 13 == 0) None else Some((i % 200 - 100).toByte),
        i)
    }.toDF("sh", "by", "i")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "512")
      .mode("overwrite").save(tmp("shortbyte"))
    val back = spark.read.format("btr").load(tmp("shortbyte"))
    assertSameRows(df, back)
    assert(back.agg(sum(col("sh").cast("long"))).head.getLong(0) ==
      df.agg(sum(col("sh").cast("long"))).head.getLong(0))
  }

  test("concurrent append conflict: divergent meta prefix fails loudly") {
    import spark.implicits._
    Seq((1, "a")).toDF("k", "s").write.format("btr").mode("overwrite").save(tmp("raceconflict"))
    val dir = new org.apache.hadoop.fs.Path(tmp("raceconflict"))
    val fs = dir.getFileSystem(graft.format.BtrTableMeta.hadoopConf())
    // simulates the race: this writer validated against a meta that has
    // since been rewritten with a different column at index 1
    val mine = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("other", org.apache.spark.sql.types.LongType)))
    val e = intercept[IllegalStateException](BtrWriteSchemas.widened(fs, dir, mine))
    assert(e.getMessage.contains("concurrent append conflict"), e.getMessage)
    // agreeing prefix still widens fine (same name+type, new trailing col)
    val ok = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.LongType)))
    assert(BtrWriteSchemas.widened(fs, dir, ok).fieldNames.toSeq == Seq("k", "s", "extra"))
  }

  test("string min/max push down: exact short bounds, decode fallback for long") {
    import spark.implicits._
    def scanOf(d: DataFrame) = d.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    // s_short: ≤16 bytes → exact untruncated footer bounds (metadata-only);
    // s_long: >16 bytes → truncated bounds force the per-chunk decode
    // fallback. blockSize 2 spreads the extremes across row groups.
    val rows = Seq(
      (Some("aa"), Some("x" * 40 + "zz")),
      (Some("日本語"), Some("x" * 40 + "aa")), // multi-byte UTF-8, sorts above ASCII
      (None, None),
      (Some("Zed"), Some("a" * 20)),
      (Some(""), Some("x" * 16 + "ÿ"))
    ).toDF("s_short", "s_long")
    rows.write.format("btr").option("btr.blockSize", "2").mode("overwrite").save(tmp("strminmax"))
    val back = spark.read.format("btr").load(tmp("strminmax"))
    val agg = back.agg(
      min(col("s_short")).as("mns"), max(col("s_short")).as("mxs"),
      min(col("s_long")).as("mnl"), max(col("s_long")).as("mxl"))
    assert(scanOf(agg).isInstanceOf[BtrAggScan], scanOf(agg).getClass.toString)
    val exp = rows.agg(
      min(col("s_short")), max(col("s_short")), min(col("s_long")), max(col("s_long"))).head
    assert(agg.head.toString == exp.toString)

    // an all-null string column yields null min/max through the same path
    Seq((1L, Option.empty[String]), (2L, None)).toDF("v", "s")
      .write.format("btr").mode("overwrite").save(tmp("strallnull"))
    val nul = spark.read.format("btr").load(tmp("strallnull"))
      .agg(min(col("s")).as("mn"), max(col("s")).as("mx"), count(lit(1)).as("n"))
    assert(scanOf(nul).isInstanceOf[BtrAggScan])
    val r = nul.head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 2L)
  }

  test("string prefix predicate (startsWith) skips chunks") {
    val orig = spark.read.parquet(s"$sf/part.parquet")
    orig.sort("p_brand").coalesce(1).write.format("btr")
      .option("btr.blockSize", "32").mode("overwrite").save(tmp("part_prefix"))
    val back = spark.read.format("btr").load(tmp("part_prefix"))
    val hit = back.filter(col("p_brand").startsWith("Brand#3"))
    assert(hit.count() == orig.filter(col("p_brand").startsWith("Brand#3")).count())
    assert(ScanGroups.surviving(hit) < ScanGroups.surviving(back.filter(col("p_brand").isNotNull)))
    val none = back.filter(col("p_brand").startsWith("Zrand"))
    assert(none.count() == 0)
    assert(ScanGroups.surviving(none) == 0)
  }

  test("btr.sampleChunks plans a seeded random chunk subset (getRanges RANDOM analog)") {
    import spark.implicits._
    // 4000 rows at blockSize 256 → ~16 chunks across 2 files
    (0 until 4000).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartition(2).write.format("btr")
      .option("btr.blockSize", "256").mode("overwrite").save(tmp("sample"))
    val full = spark.read.format("btr").load(tmp("sample"))
    val fullIds = full.select("id").as[Long].collect().toSet
    def sampled(n: Int, seed: Long) = spark.read.format("btr")
      .option("btr.sampleChunks", n.toString)
      .option("btr.sampleSeed", seed.toString).load(tmp("sample"))
    // exactly 5 whole chunks' worth of rows (each file's tail chunk holds
    // 2000 - 7×256 = 208 rows), a strict subset of the table
    val s5 = sampled(5, 42L).select("id").as[Long].collect()
    assert(s5.length >= 5 * 208 && s5.length <= 5 * 256,
      s"expected 5 whole chunks (1040..1280 rows), got ${s5.length}")
    assert(s5.toSet.subsetOf(fullIds) && s5.length < 4000)
    // deterministic per seed; a different seed draws a different subset
    val s5again = sampled(5, 42L).select("id").as[Long].collect()
    assert(s5.sorted.sameElements(s5again.sorted), "same seed must replay the same sample")
    val sOther = sampled(5, 99L).select("id").as[Long].collect()
    assert(sOther.toSet != s5.toSet, "schedule too tame: two seeds drew the same sample")
    // a cap above the chunk count degrades to the full table
    assert(sampled(1000, 42L).count() == 4000L)
    // aggregates stay on the (sampled) data path — the footer-only
    // answer would cover every chunk and contradict the sample intent
    val agg = sampled(5, 42L).agg(count(lit(1)), min("id"), max("id"))
    val scans = agg.queryExecution.executedPlan.collectLeaves()
    assert(!scans.exists {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.isInstanceOf[BtrAggScan]
      case _ => false
    }, "sampled reads must refuse aggregate pushdown")
    assert(agg.head.getLong(0) == s5.length.toLong)
    // a change-feed read refuses the option loudly
    val e = intercept[Exception] {
      spark.read.format("btr").option("btr.sampleChunks", "3")
        .option("btr.changesFromVersion", "1").load(tmp("sample")).collect()
    }
    assert(e.getMessage.contains("SAMPLING"), e.getMessage)
    // deletion-vector masks still apply INSIDE sampled chunks: a sampled
    // read of a DV-masked table must never resurrect deleted rows
    spark.conf.set("spark.sql.catalog.graft", classOf[BtrCatalog].getName)
    spark.sql(s"ALTER TABLE graft.`${tmp("sample")}` " +
      "SET TBLPROPERTIES ('btr.deletionVectors'='true')")
    spark.sql(s"DELETE FROM graft.`${tmp("sample")}` WHERE id % 10 = 0")
    val sampledAfter = sampled(5, 42L).select("id").as[Long].collect()
    assert(!sampledAfter.exists(_ % 10 == 0),
      "sampled chunks must serve their deletion-vector masks")
    assert(sampledAfter.nonEmpty && sampledAfter.toSet.subsetOf(fullIds))
  }

  test("runtime IN filters prune row groups (dynamic pruning path)") {
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    orig.sort("l_orderkey").coalesce(1).write.format("btr")
      .option("btr.blockSize", "512").mode("overwrite").save(tmp("li_runtime"))
    val back = spark.read.format("btr").load(tmp("li_runtime"))
    val scan = back.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head.asInstanceOf[BtrScan]
    val before = ScanGroups.count(scan.planInputPartitions().toSeq)
    // simulate Spark delivering a runtime IN-set of join keys
    val minKey = orig.agg(min("l_orderkey")).head.getLong(0)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("l_orderkey", Array(minKey, minKey + 1))))
    val after = ScanGroups.count(scan.planInputPartitions().toSeq)
    assert(after < before, s"runtime filter should prune: $after vs $before")
    assert(after >= 1)
  }

  test("decimal(<=18) columns round-trip, skip chunks and push aggregates") {
    import spark.implicits._
    val df = (1 to 4000).map(i => (i.toLong, BigDecimal(i) / 100))
      .toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(12,2)").as("price"))
      .union(Seq((0L, null)).toDF("id", "price")
        .select(col("id"), col("price").cast("decimal(12,2)")))
    df.coalesce(1).write.format("btr")
      .option("btr.blockSize", "512").mode("overwrite").save(tmp("decimals"))
    val back = spark.read.format("btr").load(tmp("decimals"))
    assertSameRows(df, back)

    // range predicate prunes row groups via unscaled-long stats
    val hit = back.filter(col("price") > BigDecimal("39.00"))
    assert(hit.count() == df.filter(col("price") > BigDecimal("39.00")).count())
    assert(ScanGroups.surviving(hit) < ScanGroups.surviving(back.filter(col("price").isNotNull)))

    // metadata-only min/max/count
    val agg = back.agg(count(col("price")), min(col("price")), max(col("price")))
    val scan = agg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(scan.isInstanceOf[BtrAggScan], scan.getClass.toString)
    val r = agg.head
    assert(r.getLong(0) == 4000L)
    assert(r.getDecimal(1) == new java.math.BigDecimal("0.01"))
    assert(r.getDecimal(2) == new java.math.BigDecimal("40.00"))

    // precision > 18 is rejected cleanly, not silently truncated
    val big = Seq(1L).toDF("id").select(col("id").cast("decimal(25,4)").as("v"))
    val e = intercept[Exception] {
      big.write.format("btr").mode("overwrite").save(tmp("bigdec"))
    }
    assert(e.getMessage != null)
  }

  test("same partition consumed twice in one task (self-zip) survives") {
    // Spark's DataSourceRDD closes a task's previous reader when the same
    // partition is computed again within one task — the exact shape of
    // MLlib's data.zip(data.map(norm)). The reader must survive that.
    roundTrip("lineitem")
    val df = spark.read.format("btr").load(tmp("lineitem")).select("l_orderkey")
    val rdd = df.rdd.map(_.getLong(0))
    val zipped = rdd.zip(rdd.map(_ => 1.0))
    assert(zipped.count() == df.count())
    assert(zipped.map(_._1).sum() == rdd.sum())
  }

  test("footer statistics enable auto-broadcast; limit pushdown prunes planning") {
    roundTrip("orders", 1)
    roundTrip("nation", 1)
    val o = spark.read.format("btr").load(tmp("orders"))
    val nat = spark.read.format("btr").load(tmp("nation"))
    // without explicit broadcast(): nation (tiny) must auto-broadcast
    // because the scan reports real footer statistics
    val joined = o.join(nat, col("o_custkey") % 25 === col("n_nationkey"))
    val hasBroadcast = joined.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty
    assert(hasBroadcast, joined.queryExecution.sparkPlan.toString.take(500))

    // limit pushdown: only enough row groups to cover the limit planned
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
    orig.coalesce(1).write.format("btr")
      .option("btr.blockSize", "512").mode("overwrite").save(tmp("li_limit"))
    val limited = spark.read.format("btr").load(tmp("li_limit")).limit(5)
    assert(limited.count() == 5)
    val planned = ScanGroups.surviving(limited)
    assert(planned == 1, s"expected a single planned row group for limit 5, got $planned")
  }

  test("sql over btr: agg/join runs through Catalyst") {
    roundTrip("orders", 1)
    roundTrip("customer", 1)
    spark.read.format("btr").load(tmp("orders")).createOrReplaceTempView("o_btr")
    spark.read.format("btr").load(tmp("customer")).createOrReplaceTempView("c_btr")
    val got = spark.sql(
      """SELECT c_mktsegment, count(*) n, round(sum(o_totalprice), 2) s
        |FROM o_btr JOIN c_btr ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin).collect()
    val orig = spark.read.parquet(s"$sf/orders.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    orig.createOrReplaceTempView("o_pq")
    cust.createOrReplaceTempView("c_pq")
    val expected = spark.sql(
      """SELECT c_mktsegment, count(*) n, round(sum(o_totalprice), 2) s
        |FROM o_pq JOIN c_pq ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin).collect()
    assert(got.map(_.toString).toSeq == expected.map(_.toString).toSeq)
  }

  test("small unpartitioned tables subdivide splits to core parallelism") {
    import spark.implicits._
    val p = "/tmp/btr-split-floor"
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    // one file, ~6 row groups — without the effectiveSplitBytes floor
    // this plans as ONE split regardless of core count
    (0 until 400000).map(i => (i.toLong, i * 0.5, s"s${i % 97}")).toDF("a", "b", "c")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    val df = spark.read.format("btr").load(p)
    val parts = df.rdd.getNumPartitions
    val rowGroups = 400000 / 65536 + 1
    // subdivided (was 1 split), bounded by row-group granularity and the
    // 1 MiB floor
    assert(parts > 1 && parts <= rowGroups,
      s"expected 1 < splits <= rowGroups=$rowGroups, got $parts")
    // btr.splitParallelism=1 disables subdivision
    val off = spark.read.format("btr").option("btr.splitParallelism", "1").load(p)
    assert(off.rdd.getNumPartitions == 1,
      s"expected 1 split with subdivision off, got ${off.rdd.getNumPartitions}")
    // subdivision never changes results
    assert(df.count() == 400000)
    assert(df.agg(sum("a")).head.getLong(0) == (0L until 400000L).sum)
  }
}
