package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Format v2 guarantees: NaN-sound chunk skipping (footer min/max exclude
  * NaN but Spark orders NaN above every value), NaN-exact double MIN/MAX
  * aggregate pushdown, header version validation, and parallel footer-batch
  * aggregate planning.
  */
class NaNAndVersionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("nan-version-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = s"/tmp/btr-nan-spec/$name"

  private def scanOf(d: DataFrame) = d.queryExecution.sparkPlan.collect {
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
  }.head

  test("GreaterThan chunk skipping keeps NaN rows (hasNaN guard)") {
    import spark.implicits._
    // chunk 0: [NaN, 10, 11, 12] — non-NaN max 12; chunk 1: [1, 2, 3, 4]
    val df = Seq(Double.NaN, 10.0, 11.0, 12.0, 1.0, 2.0, 3.0, 4.0).toDF("v")
    df.coalesce(1).write.format("btr")
      .option("btr.blockSize", "4").mode("overwrite").save(tmp("nanskip"))
    val back = spark.read.format("btr").load(tmp("nanskip"))

    // col > 25: no non-NaN value qualifies, but the NaN row does — the
    // NaN-carrying chunk must survive planning, the clean chunk must not
    val gt = back.filter(col("v") > 25.0)
    assert(gt.count() == 1, "the NaN row matches col > 25 under Spark ordering")
    assert(gt.collect().head.getDouble(0).isNaN)
    assert(ScanGroups.surviving(gt) == 1, "clean chunk skipped, NaN chunk kept")

    // LessThan skipping stays effective: NaN rows can never match col < v,
    // so the NaN chunk's (non-NaN) min remains a valid proof
    val lt = back.filter(col("v") < 5.0)
    assert(lt.count() == 4)
    assert(ScanGroups.surviving(lt) == 1, "NaN chunk min=10 proves col<5 empty there")
  }

  test("double min/max push down metadata-only and stay NaN-exact") {
    import spark.implicits._
    val plain = Seq(3.5, -2.25, 7.125, 0.0).toDF("v")
    plain.coalesce(1).write.format("btr").mode("overwrite").save(tmp("dplain"))
    val pAgg = spark.read.format("btr").load(tmp("dplain"))
      .agg(min(col("v")), max(col("v")), count(col("v")))
    assert(scanOf(pAgg).isInstanceOf[BtrAggScan], scanOf(pAgg).getClass.toString)
    val pr = pAgg.head
    assert(pr.getDouble(0) == -2.25 && pr.getDouble(1) == 7.125 && pr.getLong(2) == 4L)

    // NaN present: Spark orders NaN largest → max = NaN, min = real min
    val withNaN = Seq(Some(3.5), Some(Double.NaN), Some(-2.25), None).toDF("v")
    withNaN.coalesce(1).write.format("btr").mode("overwrite").save(tmp("dnan"))
    val nAgg = spark.read.format("btr").load(tmp("dnan"))
      .agg(min(col("v")), max(col("v")), count(col("v")))
    assert(scanOf(nAgg).isInstanceOf[BtrAggScan])
    val nr = nAgg.head
    val exp = withNaN.agg(min(col("v")), max(col("v")), count(col("v"))).head
    assert(nr.getDouble(0) == exp.getDouble(0) && nr.getDouble(0) == -2.25)
    assert(nr.getDouble(1).isNaN && exp.getDouble(1).isNaN)
    assert(nr.getLong(2) == 3L)

    // all-NaN column: min = max = NaN (there is no smaller real value)
    val allNaN = Seq(Double.NaN, Double.NaN).toDF("v")
    allNaN.coalesce(1).write.format("btr").mode("overwrite").save(tmp("dallnan"))
    val aAgg = spark.read.format("btr").load(tmp("dallnan")).agg(min(col("v")), max(col("v")))
    assert(scanOf(aAgg).isInstanceOf[BtrAggScan])
    val ar = aAgg.head
    assert(ar.getDouble(0).isNaN && ar.getDouble(1).isNaN)

    // float column rides the same path
    val fl = Seq(1.5f, Float.NaN, -8.25f).toDF("v")
    fl.coalesce(1).write.format("btr").mode("overwrite").save(tmp("fnan"))
    val fAgg = spark.read.format("btr").load(tmp("fnan")).agg(min(col("v")), max(col("v")))
    assert(scanOf(fAgg).isInstanceOf[BtrAggScan])
    val fr = fAgg.head
    assert(fr.getFloat(0) == -8.25f && fr.getFloat(1).isNaN)
  }

  test("aggregate pushdown batches files into multiple partitions") {
    import spark.implicits._
    (1 to 400).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      .repartition(70).write.format("btr").mode("overwrite").save(tmp("manyfiles"))
    val agg = spark.read.format("btr").load(tmp("manyfiles"))
      .agg(count(lit(1)), min(col("id")), max(col("v")))
    val scan = scanOf(agg)
    assert(scan.isInstanceOf[BtrAggScan])
    val parts = scan.asInstanceOf[BtrAggScan].toBatch.planInputPartitions()
    assert(parts.length > 1, s"expected >1 footer-batch partition, got ${parts.length}")
    val r = agg.head
    assert(r.getLong(0) == 400L && r.getLong(1) == 1L && r.getDouble(2) == 200.0)
  }

  test("sizeInBytes reports decoded size: compressible table above the broadcast budget is not auto-broadcast") {
    import spark.implicits._
    // highly compressible dim: long runs → RLE packs ~200KB of decoded
    // longs+strings into a few KB on disk. With a 24KB broadcast threshold
    // the COMPRESSED size would qualify; the decoded size must not.
    val dim = (1 to 12000).map(i => (i.toLong, i / 1000, "constant-payload-" + (i / 6000)))
      .toDF("id", "grp", "s")
    dim.coalesce(1).write.format("btr").mode("overwrite").save(tmp("bigdim"))
    val fact = (1 to 30000).map(i => (i.toLong, i % 12000 + 1)).toDF("fid", "dim_id")
    fact.coalesce(1).write.format("btr").mode("overwrite").save(tmp("fact"))

    val compressed = new java.io.File(tmp("bigdim")).listFiles()
      .filter(_.getName.endsWith(".btr")).map(_.length).sum
    val d = spark.read.format("btr").load(tmp("bigdim"))
    val f = spark.read.format("btr").load(tmp("fact"))
    val est = d.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > compressed, s"decoded estimate $est must exceed compressed $compressed")

    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (24 * 1024).toString)
      assert(compressed < 24 * 1024, s"precondition: compressed $compressed under threshold")
      assert(est > 24 * 1024, s"decoded estimate $est above threshold")
      val joined = f.join(d, col("dim_id") === col("id"))
      val broadcasts = joined.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(broadcasts.isEmpty,
        "decoded size above threshold must not auto-broadcast:\n" +
          joined.queryExecution.sparkPlan.toString.take(400))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("header version / magic are validated with a clear error") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").coalesce(1)
      .write.format("btr").mode("overwrite").save(tmp("ver"))
    val dir = new java.io.File(tmp("ver"))
    val file = dir.listFiles().filter(_.getName.endsWith(".btr")).head

    def dropCrcSidecars(): Unit =
      dir.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())

    // bump the header version int (bytes 4..8, big-endian via DataOutput)
    val raf = new java.io.RandomAccessFile(file, "rw")
    raf.seek(4); raf.writeInt(99); raf.close()
    dropCrcSidecars()
    val e = intercept[Exception] {
      spark.read.format("btr").load(tmp("ver")).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("version 99")), messages(e).mkString(" | "))

    // corrupt the magic → "not a btr file"
    val raf2 = new java.io.RandomAccessFile(file, "rw")
    raf2.seek(0); raf2.write("XXXX".getBytes); raf2.close()
    dropCrcSidecars()
    val e2 = intercept[Exception] {
      spark.read.format("btr").load(tmp("ver")).count()
    }
    assert(messages(e2).exists(_.contains("magic")), messages(e2).mkString(" | "))
  }

  test("version-4 files (no colTags bytes) read back exactly") {
    import spark.implicits._
    // fixture by byte surgery: a v6 file differs from v4 only by the
    // header version int and two footer blocks between the column count
    // and the row groups — the per-column tag bytes (v5) and the NDV
    // sketch block (v6). Strip all three and the reader must parse it as
    // a v4 file (colTags = null → physical type = logical; no sketches)
    val rows = (0 until 5000).map(i =>
      (i.toLong, s"s${i % 40}", if (i % 9 == 0) Double.NaN else i * 1.25))
    rows.toDF("id", "s", "d").coalesce(1)
      .write.format("btr").mode("overwrite").save(tmp("v4"))
    val dir = new java.io.File(tmp("v4"))
    val file = dir.listFiles().filter(_.getName.endsWith(".btr")).head
    val v5 = java.nio.file.Files.readAllBytes(file.toPath)
    def leInt(off: Int): Int =
      (v5(off) & 0xff) | ((v5(off + 1) & 0xff) << 8) |
        ((v5(off + 2) & 0xff) << 16) | ((v5(off + 3) & 0xff) << 24)
    val len = v5.length
    val footerLen = leInt(len - 8)
    val bodyStart = len - 8 - footerLen
    val numCols = leInt(bodyStart + 4)
    assert(numCols == 3)
    val out = new java.io.ByteArrayOutputStream()
    out.write(v5, 0, 4) // magic
    out.write(Array[Byte](0, 0, 0, 4)) // header version 4 (big-endian)
    out.write(v5, 8, bodyStart - 8) // chunk blobs (offsets unchanged)
    out.write(v5, bodyStart, 8) // numRowGroups, numCols
    // skip colTags (numCols bytes) and the v6 NDV block (precision byte +
    // per column a present flag + 2^p registers when present)
    val ndvStart = bodyStart + 8 + numCols
    val p = v5(ndvStart) & 0xff
    var ndvLen = 1
    if (p != 0) {
      var c = 0
      var off = ndvStart + 1
      while (c < numCols) {
        val present = v5(off) != 0
        off += 1 + (if (present) 1 << p else 0)
        c += 1
      }
      ndvLen = off - ndvStart
    }
    val cut = numCols + ndvLen
    out.write(v5, bodyStart + 8 + cut, footerLen - 8 - cut) // sans colTags/ndv
    val newLen = footerLen - cut
    out.write(Array[Byte](newLen.toByte, (newLen >> 8).toByte,
      (newLen >> 16).toByte, (newLen >> 24).toByte))
    out.write(v5, len - 4, 4) // tail magic
    java.nio.file.Files.write(file.toPath, out.toByteArray)
    // stale sidecars must not shadow the rewritten file
    dir.listFiles().filter(f => f.getName.endsWith(".crc") ||
      f.getName.startsWith("_btr_footerindex")).foreach(_.delete())
    val back = spark.read.format("btr").load(tmp("v4"))
    assert(back.orderBy("id").collect().map(_.toString).toSeq ==
      rows.toDF("id", "s", "d").orderBy("id").collect().map(_.toString).toSeq)
    // pushdown still works off the v4 footer stats
    assert(back.filter($"id" < 100).count() == 100)
    assert(back.filter($"s" === "s7").count() == rows.count(_._2 == "s7"))
  }
}
