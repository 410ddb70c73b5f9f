package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row-level DELETE/UPDATE/MERGE (group-based copy-on-write) + ALTER
  * TABLE: misaligned predicates rewrite exactly the affected files,
  * untouched files stay byte-identical, aligned DELETEs stay metadata-only
  * (zero chunk decodes), and schema evolution works through SQL DDL.
  */
class BtrRowLevelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-rowlevel-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft", classOf[BtrCatalog].getName)

  private def tmp(name: String) = s"/tmp/btr-rowlevel/$name"

  private def md5(f: java.io.File): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
  }

  private def dataFiles(p: String): Array[java.io.File] = {
    def walk(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).flatMap { f =>
        if (f.isDirectory && !f.getName.startsWith("_")) walk(f)
        else if (f.isFile && f.getName.endsWith(".btr") && !f.getName.startsWith("_")) Array(f)
        else Array.empty[java.io.File]
      }
    walk(new java.io.File(p)).sortBy(_.getPath)
  }

  test("UPDATE rewrites only touched files; untouched files byte-identical") {
    val p = tmp("upd_partial")
    (0 until 100).map(i => (i.toLong, s"r$i", 0L)).toDF("v", "s", "hits")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    (100 until 200).map(i => (i.toLong, s"r$i", 0L)).toDF("v", "s", "hits")
      .coalesce(1).write.format("btr").mode("append").save(p)
    val before = dataFiles(p).map(f => f.getName -> md5(f)).toMap
    assert(before.size == 2)
    spark.sql(s"UPDATE graft.`$p` SET hits = hits + 1, s = concat(s, '!') WHERE v < 50")
    val after = dataFiles(p).map(f => f.getName -> md5(f)).toMap
    // the [100,200) file is provably MatchNone: same name, same bytes
    val kept = before.keySet.intersect(after.keySet)
    assert(kept.size == 1, s"expected one untouched file, got ${kept.size}")
    assert(before(kept.head) == after(kept.head), "untouched file's bytes changed")
    val rows = spark.read.format("btr").load(p).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val expected = (0 until 200).map { i =>
      if (i < 50) (i.toLong, s"r$i!", 1L) else (i.toLong, s"r$i", 0L)
    }
    assert(rows.toSeq == expected)
  }

  test("UPDATE that moves rows across partition directories") {
    val p = tmp("upd_move")
    (0 until 120).map(i => (s"k${i % 3}", i.toLong)).toDF("k", "v")
      .repartition($"k").write.format("btr").partitionBy("k").mode("overwrite").save(p)
    // rows with v < 10 move from their partition into k2
    spark.sql(s"UPDATE graft.`$p` SET k = 'k2' WHERE v < 10")
    val back = spark.read.format("btr").load(p)
    assert(back.count() == 120)
    val byK = back.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // k0 and k1 each lose their v<10 rows (4 and 3 resp.), k2 gains 7
    assert(byK == Map("k0" -> 36L, "k1" -> 37L, "k2" -> 47L), byK.toString)
    assert(back.filter($"v" < 10).select("k").distinct().as[String].collect().toSeq == Seq("k2"))
  }

  test("UPDATE with a non-translatable predicate rewrites and stays correct") {
    val p = tmp("upd_expr")
    (0 until 60).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(2).write.format("btr").mode("overwrite").save(p)
    // substring(...) does not translate to a source filter -> no file
    // classification; the whole table rewrites, rows must still be exact
    spark.sql(s"UPDATE graft.`$p` SET v = -v WHERE substring(s, 2, 1) = '1' AND length(s) = 3")
    val got = spark.read.format("btr").load(p).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._2)
    val expected = (0 until 60).map { i =>
      val s = s"r$i"
      (if (s.length == 3 && s(1) == '1') -i.toLong else i.toLong, s)
    }.sortBy(_._2)
    assert(got.toSeq == expected)
  }

  test("MERGE INTO: matched update + not-matched insert") {
    val p = tmp("merge1")
    (0 until 10).map(i => (i.toLong, i * 10L)).toDF("id", "amt")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    Seq((5L, 999L), (6L, 888L), (20L, 111L), (21L, 222L)).toDF("id", "amt")
      .createOrReplaceTempView("rl_src")
    spark.sql(
      s"""MERGE INTO graft.`$p` t USING rl_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = s.amt
         |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.amt)""".stripMargin)
    val got = spark.read.format("btr").load(p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expected = (0 until 10).map { i =>
      (i.toLong, if (i == 5) 999L else if (i == 6) 888L else i * 10L)
    } ++ Seq((20L, 111L), (21L, 222L))
    assert(got.toSeq == expected)
  }

  test("MERGE WHEN MATCHED DELETE removes matched rows") {
    val p = tmp("merge_del")
    (0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    Seq(3L, 7L, 19L).toDF("id").createOrReplaceTempView("rl_del_src")
    spark.sql(
      s"""MERGE INTO graft.`$p` t USING rl_del_src s ON t.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin)
    val got = spark.read.format("btr").load(p).select("id").as[Long].collect().sorted
    assert(got.toSeq == (0L until 20L).filterNot(Set(3L, 7L, 19L)))
  }

  test("file-aligned DELETE stays metadata-only: zero chunk decodes") {
    val p = tmp("aligned_zero_io")
    (0 until 100).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    (100 until 200).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(1).write.format("btr").mode("append").save(p)
    val decodes = ScanMetrics.during(spark) {
      spark.sql(s"DELETE FROM graft.`$p` WHERE v < 100") // exact file boundary
    }(BtrScanMetrics.DecodedChunks)
    assert(decodes == 0,
      "aligned DELETE decoded data chunks — metadata fast path lost")
    assert(spark.read.format("btr").load(p).count() == 100)
  }

  test("ALTER TABLE ADD COLUMN + type widening through SQL") {
    val p = tmp("alter1")
    (0 until 50).map(i => (i, s"r$i")).toDF("v", "s")
      .write.format("btr").mode("overwrite").save(p)
    spark.sql(s"ALTER TABLE graft.`$p` ADD COLUMN score DOUBLE")
    // old files read the new column as null
    val back = spark.read.format("btr").load(p)
    assert(back.schema.fieldNames.toSeq == Seq("v", "s", "score"))
    assert(back.filter($"score".isNotNull).count() == 0)
    // appends may now fill it
    Seq((50, "r50", 1.5)).toDF("v", "s", "score")
      .write.format("btr").mode("append").save(p)
    assert(spark.read.format("btr").load(p).filter($"score" === 1.5).count() == 1)
    // widen v int -> long; old int files upcast at read
    spark.sql(s"ALTER TABLE graft.`$p` ALTER COLUMN v TYPE BIGINT")
    val widened = spark.read.format("btr").load(p)
    assert(widened.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(widened.agg(org.apache.spark.sql.functions.sum($"v")).as[Long].head() ==
      (0 to 50).map(_.toLong).sum)
    // rejected changes fail loudly and change nothing (narrowing;
    // DROP COLUMN is a supported metadata-only change since the column-
    // mapping layer — see ColumnMappingSpec)
    intercept[Exception](spark.sql(s"ALTER TABLE graft.`$p` ALTER COLUMN s TYPE INT"))
    assert(spark.read.format("btr").load(p).schema.fieldNames.length == 3)
  }

  test("_file metadata column exposes per-row provenance") {
    val p = tmp("file_meta")
    (0 until 100).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    (100 until 200).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(1).write.format("btr").mode("append").save(p)
    val back = spark.read.format("btr").load(p).select($"v", $"_file")
    val rows = back.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 200)
    val files = rows.map(_._2).distinct
    assert(files.length == 2, files.mkString(","))
    assert(files.forall(f => f.endsWith(".btr") && f.contains("file_meta")))
    // rows from one write share one file; the two ranges never mix
    val byFile = rows.groupBy(_._2).values.map(_.map(_._1).sorted.toSeq).toSet
    assert(byFile == Set((0L until 100L).toSeq, (100L until 200L).toSeq))
    // _file composes with filters and aggregation
    assert(back.filter($"v" < 100).select("_file").distinct().count() == 1)
    // a _file equality prunes the scan to that ONE file at planning
    val one = files.head
    val q = spark.read.format("btr").load(p).filter($"_file" === one)
    assert(q.count() == 100)
    val plannedFiles = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.collect { case bp: BtrInputPartition => bp.file }.distinct
    assert(plannedFiles == Seq(one), s"planned $plannedFiles")
  }

  test("MERGE runtime group filter rewrites only files with matching rows") {
    val p = tmp("merge_groupfilter")
    (0 until 100).map(i => (i.toLong, i * 10L)).toDF("id", "amt")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    (100 until 200).map(i => (i.toLong, i * 10L)).toDF("id", "amt")
      .coalesce(1).write.format("btr").mode("append").save(p)
    val before = dataFiles(p).map(f => f.getName -> md5(f)).toMap
    assert(before.size == 2)
    // source touches ids 5 and 7 — both in the FIRST file only; the ON
    // condition is not statically pushable (join on source rows), so
    // without the runtime group filter BOTH files would rewrite
    Seq((5L, 999L), (7L, 888L)).toDF("id", "amt")
      .createOrReplaceTempView("rl_gf_src")
    spark.sql(
      s"""MERGE INTO graft.`$p` t USING rl_gf_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = s.amt""".stripMargin)
    val after = dataFiles(p).map(f => f.getName -> md5(f)).toMap
    val kept = before.keySet.intersect(after.keySet)
    assert(kept.size == 1, s"expected the unmatched file untouched, kept=$kept")
    assert(before(kept.head) == after(kept.head), "unmatched file's bytes changed")
    val got = spark.read.format("btr").load(p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expected = (0 until 200).map(i =>
      (i.toLong, if (i == 5) 999L else if (i == 7) 888L else i * 10L))
    assert(got.toSeq == expected)
  }

  test("a DATA column named _file wins over the metadata column") {
    val p = tmp("file_conflict")
    (0 until 50).map(i => (i.toLong, s"stored-$i")).toDF("v", "_file")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    val back = spark.read.format("btr").load(p)
    // the stored values come back, never the synthesized path
    val got = back.orderBy("v").select("_file").as[String].collect()
    assert(got.toSeq == (0 until 50).map(i => s"stored-$i"))
    // filters on the data column evaluate on data, not paths
    assert(back.filter($"_file" === "stored-7").count() == 1)
    // row-level DML on such a table keeps the column as data
    spark.sql(s"UPDATE graft.`$p` SET _file = 'updated' WHERE v = 3")
    val after = spark.read.format("btr").load(p).orderBy("v").select("_file").as[String].collect()
    assert(after(3) == "updated" && after(4) == "stored-4")
  }

  test("fuzz: UPDATE equals conditional-projection semantics across random layouts") {
    val rnd = new scala.util.Random(0xF00D42)
    for (iter <- 0 until 6) {
      val p = tmp(s"upd_fuzz_$iter")
      val nApp = 1 + rnd.nextInt(3)
      val parts = (0 until nApp).map { a =>
        val lo = rnd.nextInt(150)
        val n = 40 + rnd.nextInt(60)
        (lo until lo + n).map { i =>
          (if (rnd.nextInt(12) == 0) None else Some(i.toLong), s"g${i % (1 + rnd.nextInt(3))}")
        }
      }
      parts.zipWithIndex.foreach { case (rows, a) =>
        rows.toDF("v", "s").coalesce(1).write.format("btr")
          .mode(if (a == 0) "overwrite" else "append").save(p)
      }
      val all = parts.flatten.toDF("v", "s")
      // (SQL predicate, matching Column) — mix of stat-pushable and not
      val preds = Seq[(String, org.apache.spark.sql.Column)](
        ("v < 80", col("v") < 80),
        ("v >= 120", col("v") >= 120),
        ("v IS NULL", col("v").isNull),
        ("s = 'g0'", col("s") === "g0"),
        ("v % 7 = 0", col("v") % 7 === 0), // not translatable -> no static file pruning
        ("v >= 40 AND v < 90", col("v") >= 40 && col("v") < 90))
      val (predSql, predCol) = preds(rnd.nextInt(preds.length))
      val hit = coalesce(predCol, lit(false))
      // (SET clause, expected projection under `hit`)
      val sets = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("v = v + 1000", d => d.withColumn("v", when(hit, col("v") + 1000).otherwise(col("v")))),
        ("s = concat(s, '!')", d => d.withColumn("s", when(hit, concat(col("s"), lit("!"))).otherwise(col("s")))),
        ("v = -v, s = 'x'", d => d
          .withColumn("v2", when(hit, -col("v")).otherwise(col("v")))
          .withColumn("s", when(hit, lit("x")).otherwise(col("s")))
          .drop("v").withColumnRenamed("v2", "v").select("v", "s")))
      val (setSql, expectF) = sets(rnd.nextInt(sets.length))
      spark.sql(s"UPDATE graft.`$p` SET $setSql WHERE $predSql")
      val got = spark.read.format("btr").load(p)
        .collect().map(_.toString).sorted.toSeq
      val want = expectF(all).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"iter=$iter pred=$predSql set=$setSql")
    }
  }

  test("fuzz: MERGE equals full-outer-join semantics across random layouts") {
    val rnd = new scala.util.Random(0xBEEF01)
    for (iter <- 0 until 5) {
      val p = tmp(s"merge_fuzz_$iter")
      val nT = 60 + rnd.nextInt(100)
      val targetRows = (0 until nT).map(i => (i.toLong, (i * 3).toLong))
      val nFiles = 1 + rnd.nextInt(3)
      targetRows.grouped(math.max(1, nT / nFiles)).zipWithIndex.foreach { case (chunk, a) =>
        chunk.toDF("id", "amt").coalesce(1).write.format("btr")
          .mode(if (a == 0) "overwrite" else "append").save(p)
      }
      // source: random existing ids (matched) + negatives (not matched)
      val srcRows = ((0 until nT).filter(_ => rnd.nextInt(4) == 0).map(i => (i.toLong, 7777L + i)) ++
        (1 to 1 + rnd.nextInt(10)).map(i => (-i.toLong, 8888L + i))).distinct
      srcRows.toDF("id", "amt").createOrReplaceTempView("merge_fuzz_src")
      val t = targetRows.toDF("id", "amt").as("t")
      val s = srcRows.toDF("id", "amt").as("s")
      val joined = t.join(s, col("t.id") === col("s.id"), "full_outer")
      val deleteVariant = rnd.nextBoolean()
      val expected: Seq[(Long, Long)] =
        if (deleteVariant) {
          // WHEN MATCHED DELETE + WHEN NOT MATCHED INSERT
          spark.sql(
            s"""MERGE INTO graft.`$p` tt USING merge_fuzz_src ss ON tt.id = ss.id
               |WHEN MATCHED THEN DELETE
               |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (ss.id, ss.amt)""".stripMargin)
          joined.filter(col("t.id").isNull || col("s.id").isNull)
            .select(coalesce(col("t.id"), col("s.id")).as("id"),
              coalesce(col("t.amt"), col("s.amt")).as("amt"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        } else {
          // WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT
          spark.sql(
            s"""MERGE INTO graft.`$p` tt USING merge_fuzz_src ss ON tt.id = ss.id
               |WHEN MATCHED THEN UPDATE SET amt = ss.amt
               |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (ss.id, ss.amt)""".stripMargin)
          joined.select(coalesce(col("t.id"), col("s.id")).as("id"),
            coalesce(col("s.amt"), col("t.amt")).as("amt"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        }
      val got = spark.read.format("btr").load(p).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == expected.sorted,
        s"iter=$iter delete=$deleteVariant nFiles=$nFiles")
    }
  }

  test("row-level swap crash windows converge: rollback before renames, forward after") {
    import graft.format.BtrTableMeta
    // ROLLBACK window: journal published, staged files never renamed —
    // convergence must restore the pre-operation view and drop the stray
    // visible final a partial rename left behind
    val p1 = tmp("rl_crash_rollback")
    (0 until 40).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(p1)
    val root1 = new org.apache.hadoop.fs.Path(p1)
    val fs = root1.getFileSystem(BtrTableMeta.hadoopConf())
    val source = new java.io.File(p1).listFiles()
      .filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_")).head
    // fake a crashed rewrite: journal names two finals, only ONE exists
    val strayFinal = "part-stray-rewrite.btr"
    java.nio.file.Files.copy(source.toPath,
      new java.io.File(p1, strayFinal).toPath)
    BtrTableMeta.writeSwapJournal(fs, root1, "nm-crash1",
      Seq(BtrTableMeta.SwapGroup("", Seq(strayFinal, "part-never-landed.btr"),
        Seq(source.getName))))
    // reads under the torn journal see the PRE-swap view (finals hidden)
    assert(spark.read.format("btr").load(p1).count() == 40)
    // age the journal past the maintenance lease: rollback presumes the
    // writer is dead, and a YOUNG incomplete journal is presumed live
    locally {
      val j = BtrTableMeta.readSwapJournals(fs, root1).head._1
      val old = System.currentTimeMillis() - BtrTableMeta.MaintenanceLeaseMs - 60000
      fs.setTimes(j, old, old)
    }
    BtrTableMeta.completeSwapJournals(fs, root1)
    assert(new java.io.File(p1, source.getName).exists(), "source lost in rollback")
    assert(!new java.io.File(p1, strayFinal).exists(), "stray final survived rollback")
    assert(BtrTableMeta.readSwapJournals(fs, root1).isEmpty)
    assert(spark.read.format("btr").load(p1).count() == 40)

    // FORWARD window: all finals landed, sources not yet deleted —
    // convergence must drop the sources exactly once (no duplicates ever)
    val p2 = tmp("rl_crash_forward")
    (0 until 40).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(p2)
    val root2 = new org.apache.hadoop.fs.Path(p2)
    val src2 = new java.io.File(p2).listFiles()
      .filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_")).head
    val fin2 = "part-rewrite-done.btr"
    java.nio.file.Files.copy(src2.toPath, new java.io.File(p2, fin2).toPath)
    BtrTableMeta.writeSwapJournal(fs, root2, "nm-crash2",
      Seq(BtrTableMeta.SwapGroup("", Seq(fin2), Seq(src2.getName))))
    // both copies on disk, journal hides the superseded source: no dupes
    assert(spark.read.format("btr").load(p2).count() == 40)
    BtrTableMeta.completeSwapJournals(fs, root2)
    assert(!new java.io.File(p2, src2.getName).exists(), "superseded source survived")
    assert(new java.io.File(p2, fin2).exists())
    // nm- journals leave NO done-marker (DML is not row-preserving)
    assert(BtrTableMeta.readDoneSwapJournals(fs, root2).isEmpty,
      "nm- journal must not leave a stream marker")
    assert(spark.read.format("btr").load(p2).count() == 40)
  }

  test("UPDATE leaves no staging or journal leftovers") {
    val p = tmp("upd_clean")
    (0 until 80).map(i => (i.toLong, s"r$i")).toDF("v", "s")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    spark.sql(s"UPDATE graft.`$p` SET s = 'x' WHERE v = 40")
    val names = new java.io.File(p).listFiles().map(_.getName)
    assert(!names.exists(_.startsWith("_rl_")), names.mkString(","))
    assert(!names.exists(_.startsWith("_btr_swap_")), names.mkString(","))
    assert(spark.read.format("btr").load(p).filter($"s" === "x").count() == 1)
  }
}
