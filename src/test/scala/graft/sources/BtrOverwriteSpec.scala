package graft.sources

import graft.format.{BtrConfig, BtrTableMeta}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Overwrite/commit safety: final file names carry a per-write id so two
  * writes can never collide (Hadoop rename refuses to clobber — a silent
  * collision would strand the new data in a temp file and keep serving the
  * old rows); the rename result is checked so any other failure is loud;
  * streaming epoch re-attempts replace their own deterministic file.
  */
class BtrOverwriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-overwrite-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Fresh per-test dir: wiped first so reruns never trip the
    * no-clobber rename on a previous run's committed files.
    */
  private def tmp(name: String) = {
    val dir = s"/tmp/btr-overwrite-spec/$name"
    val f = new java.io.File(dir)
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(rm); x.delete(); ()
    }
    rm(f)
    dir
  }

  private def internalRow(i: Int, s: String): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow(i,
      org.apache.spark.unsafe.types.UTF8String.fromString(s))

  private def listNames(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    Option(f.listFiles()).getOrElse(Array.empty).map(_.getName).toSeq.sorted
  }

  test("overwrite serves the NEW rows and leaves no temp files behind") {
    import spark.implicits._
    val dir = tmp("ow")
    Seq((1, "old"), (2, "old")).toDF("id", "tag")
      .coalesce(1).write.format("btr").mode("overwrite").save(dir)
    val firstFiles = listNames(dir).filter(_.endsWith(".btr"))
    Seq((10, "new"), (20, "new"), (30, "new")).toDF("id", "tag")
      .coalesce(1).write.format("btr").mode("overwrite").save(dir)

    val names = listNames(dir)
    assert(!names.exists(_.startsWith("_tmp_")), s"temp leak: $names")
    // the first write's data files are gone (truncate), replaced by new ones
    val secondFiles = names.filter(_.endsWith(".btr"))
    assert(secondFiles.nonEmpty && firstFiles.intersect(secondFiles).isEmpty,
      s"first=$firstFiles second=$secondFiles")

    val back = spark.read.format("btr").load(dir)
    val rows = back.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((10, "new"), (20, "new"), (30, "new")), rows.mkString(","))
  }

  test("overwrite from simulated fresh JVM (taskId restarts at 0) cannot collide") {
    import spark.implicits._
    // two writes whose writers share (partitionId, taskId) — the exact
    // collision that stranded data in round 2 — now differ by writeId
    val dir = tmp("fresh-jvm")
    new java.io.File(dir).mkdirs()
    val schema = Seq((1, "x")).toDF("id", "tag").schema
    def oneWrite(rows: Seq[(Int, String)], writeId: String): String = {
      val w = new BtrDataWriter(dir, schema, 65536, 3, partitionId = 1, taskId = 2,
        BtrConfig.Default, writeId = writeId)
      rows.foreach { case (i, s) => w.write(internalRow(i, s)) }
      w.commit().asInstanceOf[BtrCommitMessage].fileName
    }
    val f1 = oneWrite(Seq((1, "a")), "w1aaaaaa")
    val f2 = oneWrite(Seq((2, "b")), "w2bbbbbb")
    assert(f1 != f2, s"colliding final names: $f1")
    assert(!listNames(dir).exists(_.startsWith("_tmp_")), listNames(dir).mkString(","))
  }

  test("string values survive the row source reusing their backing arrays") {
    // UTF8String.fromBytes wraps the caller's array without copying, and
    // a generic row hands out the binary array it holds; a row source may
    // refill either for the next row: the writer must own a copy of every
    // string and binary value it buffers (top-level, array element, map
    // value, array<struct> element field and struct field)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmp("reused-bytes")
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("s", StringType),
      StructField("a", ArrayType(StringType)),
      StructField("t", StructType(Seq(StructField("u", StringType), StructField("w", BinaryType)))),
      StructField("b", BinaryType),
      StructField("m", MapType(IntegerType, BinaryType)),
      StructField("e", ArrayType(StructType(Seq(StructField("v", BinaryType)))))))
    val bufs = Array.fill(7)(new Array[Byte](5))
    def fill(b: Array[Byte], text: String): Array[Byte] = {
      System.arraycopy(text.getBytes("UTF-8"), 0, b, 0, b.length)
      b
    }
    def refill(b: Array[Byte], text: String): UTF8String = UTF8String.fromBytes(fill(b, text))
    val n = 300
    val bw = new BtrBatchWrite(dir, schema, BtrOverwriteMode.Truncate, 65536, 3)
    val w = bw.createBatchWriterFactory(null).createWriter(0, 1L)
    (0 until n).foreach { i =>
      w.write(InternalRow(i, refill(bufs(0), f"s$i%04d"),
        new GenericArrayData(Array[Any](refill(bufs(1), f"a$i%04d"))),
        InternalRow(refill(bufs(2), f"u$i%04d"), fill(bufs(3), f"w$i%04d")),
        fill(bufs(4), f"b$i%04d"),
        new ArrayBasedMapData(new GenericArrayData(Array[Any](i)),
          new GenericArrayData(Array[Any](fill(bufs(5), f"m$i%04d")))),
        new GenericArrayData(Array[Any](InternalRow(fill(bufs(6), f"v$i%04d"))))))
    }
    bw.commit(Array(w.commit()))
    def text(b: Array[Byte]): String = new String(b, "UTF-8")
    val back = spark.read.format("btr").load(dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getSeq[String](2), r.getStruct(3).getString(0),
        text(r.getStruct(3).getAs[Array[Byte]](1)), text(r.getAs[Array[Byte]](4)),
        r.getMap[Int, Array[Byte]](5).map { case (k, v) => k -> text(v) },
        r.getSeq[org.apache.spark.sql.Row](6).map(e => text(e.getAs[Array[Byte]](0)))))
      .sortBy(_._1)
    assert(back.toSeq == (0 until n).map(i => (i, f"s$i%04d", Seq(f"a$i%04d"), f"u$i%04d",
      f"w$i%04d", f"b$i%04d", Map(i -> f"m$i%04d"), Seq(f"v$i%04d"))))
  }

  test("commit fails loudly when rename cannot land") {
    import spark.implicits._
    val dir = tmp("loud")
    new java.io.File(dir).mkdirs()
    val schema = Seq((1, "x")).toDF("id", "tag").schema
    // a legacy writer with no writeId produces the deterministic name
    // part-00001-2.btr; pre-create a FILE at that destination so rename
    // must fail — commit must throw, not silently report success
    val fs = new Path(dir).getFileSystem(BtrTableMeta.hadoopConf())
    val dst = new Path(dir, "part-00001-2.btr")
    val out = fs.create(dst, true); out.write(Array[Byte](1, 2, 3)); out.close()

    val w = new BtrDataWriter(dir, schema, 65536, 3, partitionId = 1, taskId = 2,
      BtrConfig.Default, writeId = "")
    w.write(internalRow(7, "q"))
    val e = intercept[java.io.IOException] { w.commit() }
    assert(e.getMessage.contains("rename"), e.getMessage)
  }

  test("append with a mismatched schema fails loudly; overwrite may change it") {
    import spark.implicits._
    val dir = tmp("schema-guard")
    Seq((1L, "a")).toDF("id", "s").write.format("btr").mode("overwrite").save(dir)

    // reordered columns: silently decoding old files positionally would
    // serve wrong data — must be rejected up front
    val e1 = intercept[Exception] {
      Seq(("b", 2L)).toDF("s", "id").write.format("btr").mode("append").save(dir)
    }
    assert(e1.getMessage.contains("append schema"), e1.getMessage)

    // retyped column to an UNRELATED type (int→long / float→double are
    // sanctioned widenings handled by BtrEvolutionSpec)
    val e2 = intercept[Exception] {
      Seq(("3", "c")).toDF("id", "s").write.format("btr").mode("append").save(dir)
    }
    assert(e2.getMessage.contains("append schema"), e2.getMessage)

    // matching shape appends fine; nullability differences are fine
    Seq((Some(4L), "d")).toDF("id", "s").write.format("btr").mode("append").save(dir)
    assert(spark.read.format("btr").load(dir).count() == 2)

    // partitioning mismatch is rejected
    val e3 = intercept[Exception] {
      Seq((5L, "e")).toDF("id", "s").write.format("btr")
        .partitionBy("s").mode("append").save(dir)
    }
    assert(e3.getMessage.contains("partitioning"), e3.getMessage)

    // overwrite replaces the table and may change the schema
    Seq(("x", 1.5)).toDF("name", "v").write.format("btr").mode("overwrite").save(dir)
    val back = spark.read.format("btr").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("name", "v"))
    assert(back.count() == 1)
  }

  test("streaming epoch re-attempt replaces its own file (idempotent, no temp leak)") {
    import spark.implicits._
    val dir = tmp("epoch")
    new java.io.File(dir).mkdirs()
    val schema = Seq((1, "x")).toDF("id", "tag").schema
    def attempt(taskId: Long, rows: Seq[(Int, String)]): Unit = {
      val w = new BtrDataWriter(dir, schema, 65536, 3, partitionId = 0, taskId = taskId,
        BtrConfig.Default, fileNameOverride = Some("part-e000007-00000.btr"))
      rows.foreach { case (i, s) => w.write(internalRow(i, s)) }
      w.commit(); ()
    }
    attempt(10L, Seq((1, "first")))
    attempt(11L, Seq((1, "first"), (2, "retry"))) // replayed epoch, new task attempt
    val names = listNames(dir)
    assert(names.count(_ == "part-e000007-00000.btr") == 1, names.mkString(","))
    assert(!names.exists(_.startsWith("_tmp_")), names.mkString(","))
    // the surviving file is the LAST attempt's content
    BtrTableMeta.write(new Path(dir).getFileSystem(BtrTableMeta.hadoopConf()),
      new Path(dir), schema, 65536, 3)
    val back = spark.read.format("btr").load(dir).collect()
    assert(back.length == 2, back.mkString(","))
  }
}
