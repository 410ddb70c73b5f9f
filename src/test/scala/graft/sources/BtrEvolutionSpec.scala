package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema evolution: appends may add new columns at the END; the table
  * meta widens and files written before the widening read the added
  * columns as all-null. Pruning, aggregate pushdown, inspection and
  * compaction all stay correct across the mixed file generations.
  */
class BtrEvolutionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-evolution-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(name: String) = s"/tmp/btr-evolution-spec/$name"

  private def writeEvolved(dir: String): Unit = {
    (1 to 100).map(i => (i.toLong, s"old-$i")).toDF("id", "s")
      .coalesce(1).write.format("btr").option("btr.blockSize", "32")
      .mode("overwrite").save(dir)
    (101 to 160).map(i => (i.toLong, s"new-$i", i * 10)).toDF("id", "s", "extra")
      .coalesce(1).write.format("btr").option("btr.blockSize", "32")
      .mode("append").save(dir)
  }

  test("appending new trailing columns widens the table; old files read them as null") {
    writeEvolved(tmp("widen"))
    val back = spark.read.format("btr").load(tmp("widen"))
    assert(back.schema.fieldNames.toSeq == Seq("id", "s", "extra"))
    assert(back.count() == 160)
    assert(back.filter($"extra".isNull).count() == 100)
    val news = back.filter($"extra".isNotNull)
      .select($"id", $"extra").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(news.size == 60 && news(101L) == 1010 && news(160L) == 1600)
  }

  test("filters on the added column prune pre-widening row groups at planning") {
    writeEvolved(tmp("prune"))
    val back = spark.read.format("btr").load(tmp("prune"))
    val allGroups = ScanGroups.surviving(back.filter($"id".isNotNull))
    // IsNotNull(extra): every old group is provably all-null → skipped
    val notNull = back.filter($"extra".isNotNull)
    assert(notNull.count() == 60)
    assert(ScanGroups.surviving(notNull) < allGroups, "old groups must be pruned")
    // equality on the added column also proves old groups can't match
    val eq = back.filter($"extra" === 1010)
    assert(eq.count() == 1)
    assert(ScanGroups.surviving(eq) <= 2, s"expected near-total pruning, got ${ScanGroups.surviving(eq)}")
    // IsNull matches every old row — nothing lost
    assert(back.filter($"extra".isNull).count() == 100)
  }

  test("metadata-only aggregates stay exact across mixed file generations") {
    writeEvolved(tmp("aggs"))
    val back = spark.read.format("btr").load(tmp("aggs"))
    val row = back.agg(
      count(lit(1)).as("n"), count($"extra").as("n_extra"),
      min($"extra").as("mn"), max($"extra").as("mx"),
      count($"s").as("n_s")).head
    assert(row.getLong(0) == 160 && row.getLong(1) == 60)
    assert(row.getInt(2) == 1010 && row.getInt(3) == 1600)
    assert(row.getLong(4) == 160)
  }

  test("describe reports only what each file stores; compaction keeps generations apart") {
    writeEvolved(tmp("compact"))
    val desc = graft.functions.BtrInspect.describe(spark, tmp("compact"))
    val byFile = desc.groupBy("file").agg(countDistinct("column").as("cols"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile.values.toSet == Set(2L, 3L), byFile.toString)

    val (b, a) = BtrCompact.compact(spark, tmp("compact"), targetBytes = 1L << 30)
    assert(b == 2 && a == 2, s"different column counts must not merge: $b -> $a")
    // add more files per generation so compaction has something to merge
    (161 to 170).map(i => (i.toLong, s"new-$i", i * 10)).toDF("id", "s", "extra")
      .coalesce(1).write.format("btr").option("btr.blockSize", "32")
      .mode("append").save(tmp("compact"))
    val (b2, a2) = BtrCompact.compact(spark, tmp("compact"), targetBytes = 1L << 30)
    assert(b2 == 3 && a2 == 2, s"same-generation files merge: $b2 -> $a2")
    val back = spark.read.format("btr").load(tmp("compact"))
    assert(back.count() == 170)
    assert(back.filter($"extra".isNull).count() == 100)
    assert(back.filter($"extra".isNotNull).count() == 70)
  }

  test("a running stream keeps its start-time schema across a widening append") {
    val dir = tmp("stream")
    val ckpt = tmp("stream-ckpt")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    (1 to 10).map(i => (i.toLong, s"old-$i")).toDF("id", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(dir)
    val q = spark.readStream.format("btr").load(dir)
      .writeStream.format("memory").queryName("evo_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("evo_stream").count() == 10)
      // widening append mid-stream: the stream's 2-column projection maps
      // onto the new 3-column files' PREFIX positionally — safe by the
      // append-prefix invariant; the new column simply isn't projected
      (11 to 15).map(i => (i.toLong, s"new-$i", i * 10)).toDF("id", "s", "extra")
        .coalesce(1).write.format("btr").mode("append").save(dir)
      q.processAllAvailable()
      val got = spark.table("evo_stream").select("id", "s").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == 15 && got(15L) == "new-15" && got(3L) == "old-3")
    } finally q.stop()
    // a NEW stream sees the widened schema, old rows null-filled
    val q2 = spark.readStream.format("btr").load(dir)
      .writeStream.format("memory").queryName("evo_stream2").start()
    try {
      q2.processAllAvailable()
      val t2 = spark.table("evo_stream2")
      assert(t2.schema.fieldNames.toSeq == Seq("id", "s", "extra"))
      assert(t2.filter(col("extra").isNull).count() == 10)
      assert(t2.filter(col("extra").isNotNull).count() == 5)
    } finally q2.stop()
  }

  test("widened() never narrows a meta that grew past the writer's schema") {
    import org.apache.spark.sql.types._
    writeEvolved(tmp("narrow")) // meta is [id, s, extra]
    val fs = new org.apache.hadoop.fs.Path(tmp("narrow"))
      .getFileSystem(graft.format.BtrTableMeta.hadoopConf())
    // a writer validated against the pre-widening [id, s] table commits
    // AFTER a concurrent widening: the recorded schema must keep `extra`
    val narrow = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val recorded = BtrWriteSchemas.widened(fs, new org.apache.hadoop.fs.Path(tmp("narrow")), narrow)
    assert(recorded.fieldNames.toSeq == Seq("id", "s", "extra"), recorded.treeString)
    assert(recorded("extra").nullable, "retained trailing columns stay nullable")
  }

  test("incompatible appends still fail loudly") {
    writeEvolved(tmp("reject"))
    // reordered columns
    val e1 = intercept[Exception] {
      Seq((1L, 5, "x")).toDF("id", "extra", "s")
        .write.format("btr").mode("append").save(tmp("reject"))
    }
    assert(e1.getMessage.contains("append schema"), e1.getMessage)
    // dropping an existing column
    val e2 = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "s")
        .write.format("btr").mode("append").save(tmp("reject"))
    }
    assert(e2.getMessage.contains("append schema"), e2.getMessage)
    // retyping an existing column to an unrelated type (int→long / float→
    // double are sanctioned widenings now, so retype the STRING column)
    val e3 = intercept[Exception] {
      Seq((1L, 7, 5)).toDF("id", "s", "extra")
        .write.format("btr").mode("append").save(tmp("reject"))
    }
    assert(e3.getMessage.contains("append schema"), e3.getMessage)
  }

  test("type-widening appends: int→long and float→double across generations") {
    import org.apache.spark.sql.types._
    val dir = tmp("typewiden")
    (1 to 80).map(i => (i, i * 1.5f)).toDF("k", "x")
      .coalesce(1).write.format("btr").option("btr.blockSize", "32")
      .mode("overwrite").save(dir)
    (81 to 120).map(i => (i.toLong * 1000000000L, i * 1.5d)).toDF("k", "x")
      .coalesce(1).write.format("btr").option("btr.blockSize", "32")
      .mode("append").save(dir)
    val back = spark.read.format("btr").load(dir)
    assert(back.schema("k").dataType == LongType, back.schema.treeString)
    assert(back.schema("x").dataType == DoubleType, back.schema.treeString)
    assert(back.count() == 120)
    // pre-widening rows decode with the file's narrow tag and upcast:
    // ints exactly, floats bit-exactly (float→double is lossless)
    val olds = back.filter($"k" <= 80L).orderBy("k").collect()
    assert(olds.length == 80)
    olds.foreach { r =>
      val k = r.getLong(0)
      assert(r.getDouble(1) == (k.toInt * 1.5f).toDouble, s"row $k")
    }
    val news = back.filter($"k" > 80L).count()
    assert(news == 40)
  }

  test("widened tables keep pruning and metadata aggregates exact") {
    val dir = tmp("typewiden_agg")
    (1 to 80).map(i => (i, i.toFloat)).toDF("k", "x")
      .coalesce(1).write.format("btr").option("btr.blockSize", "32")
      .mode("overwrite").save(dir)
    (81 to 120).map(i => (i.toLong, i.toDouble)).toDF("k", "x")
      .coalesce(1).write.format("btr").option("btr.blockSize", "32")
      .mode("append").save(dir)
    val back = spark.read.format("btr").load(dir)
    // equality far above the old files' max prunes every old group
    val hit = back.filter($"k" === 100L)
    assert(hit.count() == 1)
    assert(ScanGroups.surviving(hit) <= 2, s"got ${ScanGroups.surviving(hit)}")
    // metadata-only SUM/MIN/MAX across mixed int32/int64 footers
    val agg = back.agg(sum($"k").as("sk"), min($"k").as("mn"), max($"k").as("mx"),
      min($"x").as("mnx"), max($"x").as("mxx"))
    val scan = agg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(scan.isInstanceOf[BtrAggScan], scan.getClass.toString)
    val r = agg.head
    assert(r.getLong(0) == (1 to 120).map(_.toLong).sum)
    assert(r.getLong(1) == 1L && r.getLong(2) == 120L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 120.0)
  }

  test("narrow appends into an already-widened table read via upcast") {
    val dir = tmp("narrow_append")
    Seq((1L, "a")).toDF("k", "s")
      .write.format("btr").mode("overwrite").save(dir)
    // narrow int append into the long table: files carry int32 footers
    Seq((2, "b"), (3, "c")).toDF("k", "s")
      .write.format("btr").mode("append").save(dir)
    val back = spark.read.format("btr").load(dir)
    assert(back.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("compaction never merges across physical type generations") {
    val dir = tmp("typewiden_compact")
    (1 to 50).map(i => (i, s"v$i")).toDF("k", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(dir)
    (51 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .coalesce(1).write.format("btr").mode("append").save(dir)
    (101 to 150).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .coalesce(1).write.format("btr").mode("append").save(dir)
    val (before, after) = BtrCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(before == 3)
    // the two int64 files merge; the int32 file must stay separate
    assert(after == 2, s"expected int64-only merge, got $after files")
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 150)
    assert(back.agg(sum($"k")).head.getLong(0) == (1 to 150).map(_.toLong).sum)
  }
}
