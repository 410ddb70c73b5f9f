package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BtrCompactSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-compact-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = s"/tmp/btr-compact-spec/$name"

  private def btrFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Nil
    else d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) btrFiles(f.getPath)
      else if (f.getName.endsWith(".btr") && !f.getName.startsWith("_")) Seq(f.getPath)
      else Nil
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("many tiny appends compact to fewer files with identical rows") {
    import spark.implicits._
    val dir = tmp("appends")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // 8 appends × 2 tasks — like a streaming sink's epoch files
    (0 until 8).foreach { e =>
      (e * 100 until (e + 1) * 100).map(i => (i.toLong, s"doc-$i", i * 0.25))
        .toDF("id", "s", "v").repartition(2)
        .write.format("btr").mode("append").save(dir)
    }
    val before = btrFiles(dir)
    assert(before.size >= 8, s"expected many small files, got ${before.size}")
    val expected = sortedRows(spark.read.format("btr").load(dir))

    val (nBefore, nAfter) = BtrCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(nBefore == before.size && nAfter == 1, s"$nBefore -> $nAfter")
    assert(btrFiles(dir).size == 1)
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)

    // footer stats still drive metadata-only aggregates after the merge
    val agg = spark.read.format("btr").load(dir).agg(count(lit(1)), min(col("id")), max(col("v")))
    val scan = agg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(scan.isInstanceOf[BtrAggScan])
    val r = agg.head
    assert(r.getLong(0) == 800L && r.getLong(1) == 0L && r.getDouble(2) == 799 * 0.25)
  }

  test("completed swaps leave done markers; vacuum bounds them; rollback leaves none") {
    import spark.implicits._
    import graft.format.BtrTableMeta
    import org.apache.hadoop.fs.Path
    val dir = tmp("markers")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (0 until 2).foreach { e =>
      Seq((e.toLong, s"v$e")).toDF("id", "s")
        .coalesce(1).write.format("btr").mode("append").save(dir)
    }
    val root = new Path(dir)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    BtrCompact.compact(spark, dir, 1L << 30)
    // pending journal retired into a done marker holding the mapping
    assert(BtrTableMeta.readSwapJournals(fs, root).isEmpty)
    val done = BtrTableMeta.readDoneSwapJournals(fs, root)
    assert(done.length == 1, s"expected one done marker, got ${done.length}")
    val g = done.head._2.head
    assert(g.sources.length == 2 && g.finals.length == 1)
    // retention-based vacuum: young markers survive, old ones go
    BtrTableMeta.vacuumSwapMarkers(fs, root, retentionMs = 24L * 3600 * 1000)
    assert(BtrTableMeta.readDoneSwapJournals(fs, root).length == 1)
    BtrTableMeta.vacuumSwapMarkers(fs, root, retentionMs = 0L)
    assert(BtrTableMeta.readDoneSwapJournals(fs, root).isEmpty)

    // a rolled-back swap (finals never landed) must leave NO marker: the
    // sources are still live, so a source→final mapping would be a lie
    val jDead = BtrTableMeta.writeSwapJournal(fs, root, "deadbeef",
      Seq(BtrTableMeta.SwapGroup("", Seq("never-written.btr"),
        btrFiles(dir).map(f => new java.io.File(f).getName))))
    locally { // crashed-writer simulation: age past the maintenance lease
      val old = System.currentTimeMillis() - BtrTableMeta.MaintenanceLeaseMs - 60000
      fs.setTimes(jDead, old, old)
    }
    BtrTableMeta.completeSwapJournals(fs, root)
    assert(BtrTableMeta.readSwapJournals(fs, root).isEmpty)
    assert(BtrTableMeta.readDoneSwapJournals(fs, root).isEmpty)
    assert(btrFiles(dir).nonEmpty, "rollback must keep the live sources")
  }

  test("target size splits output into multiple packed files") {
    import spark.implicits._
    val dir = tmp("target")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (0 until 6).foreach { e =>
      (0 until 2000).map(i => (i.toLong, scala.util.Random.nextDouble()))
        .toDF("id", "v").coalesce(1)
        .write.format("btr").mode("append").save(dir)
    }
    val sizes = btrFiles(dir).map(new java.io.File(_).length())
    val per = sizes.sum / sizes.size
    val expected = sortedRows(spark.read.format("btr").load(dir))
    // target ~2 source files per bin → 3 outputs
    val (_, nAfter) = BtrCompact.compact(spark, dir, targetBytes = per * 2)
    assert(nAfter >= 2 && nAfter < 6, s"got $nAfter files")
    assert(btrFiles(dir).size == nAfter)
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
  }

  test("clusterBy layout makes range predicates prune almost everything") {
    import spark.implicits._
    val dir = tmp("clustered")
    val dirRand = tmp("unclustered")
    val rnd = new scala.util.Random(11)
    val df = (1 to 40000).map(_ => rnd.nextLong().abs % 1000000).toDF("k")
    BtrLayout.clusterBy(df, Seq("k"), numFiles = 4)
      .write.format("btr").option("btr.blockSize", "2048").mode("overwrite").save(dir)
    df.repartition(4).write.format("btr").option("btr.blockSize", "2048")
      .mode("overwrite").save(dirRand)
    def surviving(path: String): Int = {
      ScanGroups.surviving(spark.read.format("btr").load(path).filter(col("k").between(10000, 20000)))
    }
    val expected = df.filter(col("k").between(10000, 20000)).count()
    assert(spark.read.format("btr").load(dir)
      .filter(col("k").between(10000, 20000)).count() == expected)
    // random layout: every group overlaps the range; clustered: ~1 in 100
    assert(surviving(dir) * 5 < surviving(dirRand),
      s"clustered=${surviving(dir)} unclustered=${surviving(dirRand)}")
  }

  test("rewriteClustered restores skipping locality after unordered appends") {
    import spark.implicits._
    val dir = tmp("rewrite")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val rnd = new scala.util.Random(3)
    // unordered appends: every file spans the whole key range
    (0 until 5).foreach { _ =>
      (1 to 8000).map(_ => rnd.nextLong().abs % 1000000).toDF("k")
        .coalesce(1).write.format("btr").option("btr.blockSize", "2048")
        .mode("append").save(dir)
    }
    val expected = sortedRows(spark.read.format("btr").load(dir))
    def surviving(): Int = {
      ScanGroups.surviving(spark.read.format("btr").load(dir).filter(col("k").between(10000, 30000)))
    }
    val beforeGroups = surviving()
    val (nb, na) = BtrCompact.rewriteClustered(spark, dir, Seq("k"), targetBytes = 1L << 30)
    assert(nb == 5 && na >= 1, s"$nb -> $na")
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
    assert(surviving() * 3 < beforeGroups,
      s"clustered=${surviving()} unclustered=$beforeGroups")
    // no staging leftovers
    assert(!new java.io.File(dir, "_rewrite_staging").exists())
  }

  test("hive partitions compact independently and stay readable") {
    import spark.implicits._
    val dir = tmp("parts")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (0 until 4).foreach { e =>
      (0 until 50).map(i => (i.toLong + e * 50, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "k").repartition(2)
        .write.format("btr").partitionBy("k").mode("append").save(dir)
    }
    val expected = sortedRows(spark.read.format("btr").load(dir))
    val before = btrFiles(dir).size
    val (_, nAfter) = BtrCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(nAfter == 2, s"one file per partition dir, got $nAfter (before $before)")
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
    // partition pruning still works on the compacted layout
    val a = spark.read.format("btr").load(dir).filter(col("k") === "a")
    assert(a.count() == expected.size / 2)
  }

  test("swap journal hides duplicates and half-swaps from readers (crash windows)") {
    import spark.implicits._
    import graft.format.BtrTableMeta
    import org.apache.hadoop.fs.Path
    val dir = tmp("crash")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (0 until 3).foreach { e =>
      (e * 10 until (e + 1) * 10).map(i => (i.toLong, s"r-$i")).toDF("id", "s")
        .coalesce(1).write.format("btr").mode("append").save(dir)
    }
    val expected = sortedRows(spark.read.format("btr").load(dir))
    val root = new Path(dir)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    val names = btrFiles(dir).map(p => new java.io.File(p).getName).sorted

    // CRASH WINDOW 1 (post-rename, pre-delete): merged final visible AND
    // its sources still present. Simulate: copy a source to a final name,
    // journal says final supersedes it. Reader must not see the copy's
    // rows twice.
    val dupFinal = "part-compact-test-00000.btr"
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, names.head),
      fs, new Path(root, dupFinal), false, BtrTableMeta.hadoopConf())
    BtrTableMeta.writeSwapJournal(fs, root, "t1",
      Seq(BtrTableMeta.SwapGroup("", Seq(dupFinal), Seq(names.head))))
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected,
      "duplicate window leaked rows")

    // recovery converges: source deleted, final kept, journal dropped
    BtrTableMeta.completeSwapJournals(fs, root)
    assert(!fs.exists(new Path(root, names.head)) && fs.exists(new Path(root, dupFinal)))
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)

    // CRASH WINDOW 2 (pre-rename): journal exists, final never appeared.
    // Reader keeps the sources (pre-swap view): rows unchanged.
    val j2 = BtrTableMeta.writeSwapJournal(fs, root, "t2",
      Seq(BtrTableMeta.SwapGroup("", Seq("part-compact-never-00000.btr"), Seq(names(1)))))
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected,
      "pre-rename window dropped rows")
    // rollback of an incomplete journal requires the lease to expire
    // (a young one is presumed to belong to a live mid-rename worker)
    locally {
      val old = System.currentTimeMillis() - BtrTableMeta.MaintenanceLeaseMs - 60000
      fs.setTimes(j2, old, old)
    }
    BtrTableMeta.completeSwapJournals(fs, root)
    assert(fs.exists(new Path(root, names(1))), "rollback must keep sources")
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)

    // a fresh real compact over the converged directory still works
    val (_, nAfter) = BtrCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(nAfter == 1)
    assert(sortedRows(spark.read.format("btr").load(dir)) == expected)
    assert(BtrTableMeta.readSwapJournals(fs, root).isEmpty, "journal must be dropped")
  }

  test("overwrite during a crashed swap window cannot resurrect superseded rows") {
    import spark.implicits._
    import graft.format.BtrTableMeta
    import org.apache.hadoop.fs.Path
    val dir = tmp("overwrite-crash")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (0 until 2).foreach { e =>
      (e * 10 until (e + 1) * 10).map(i => (i.toLong, s"old-$i")).toDF("id", "s")
        .coalesce(1).write.format("btr").mode("append").save(dir)
    }
    val root = new Path(dir)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    val names = btrFiles(dir).map(p => new java.io.File(p).getName).sorted
    // crashed compactor, post-rename pre-delete: final visible, source
    // still on disk, journal pending — the journal-filtered listing hides
    // the source
    val dupFinal = "part-compact-test-00000.btr"
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, names.head),
      fs, new Path(root, dupFinal), false, BtrTableMeta.hadoopConf())
    BtrTableMeta.writeSwapJournal(fs, root, "crash",
      Seq(BtrTableMeta.SwapGroup("", Seq(dupFinal), Seq(names.head))))

    // overwrite must ALSO delete the journal-hidden source; otherwise the
    // journal flips to the pre-swap view once the final is gone and the
    // old rows silently reappear next to the new data
    val fresh = (100 until 105).map(i => (i.toLong, s"new-$i")).toDF("id", "s")
    fresh.coalesce(1).write.format("btr").mode("overwrite").save(dir)
    assert(sortedRows(spark.read.format("btr").load(dir)) == sortedRows(fresh),
      "overwrite leaked pre-overwrite rows")
    assert(BtrTableMeta.readSwapJournals(fs, root).isEmpty,
      "overwrite must not leave a stale journal behind")
  }

  test("vacuumTemps sweeps orphaned hidden temps, spares live files and metadata") {
    import spark.implicits._
    import graft.format.BtrTableMeta
    val dir = tmp("vacuum")
    (0 until 100).map(i => (s"k${i % 2}", i.toLong)).toDF("k", "v")
      .write.format("btr").partitionBy("k").mode("overwrite").save(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    // plant orphans: a writer temp at the root, one inside a partition
    // dir, and row-level staging; plus a FRESH temp that must survive
    def plant(p: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, p), true)
      out.write(Array[Byte](1, 2, 3)); out.close()
    }
    plant("_tmp_9_part-dead.btr")
    plant("k=k0/_tmp_9_part-dead2.btr")
    plant("k=k1/_rl_dead_part-x.btr")
    plant("_tmp_fresh_part.btr")
    // age the dead ones past retention
    val old = System.currentTimeMillis() - 100000
    Seq("_tmp_9_part-dead.btr", "k=k0/_tmp_9_part-dead2.btr", "k=k1/_rl_dead_part-x.btr")
      .foreach(p => fs.setTimes(new org.apache.hadoop.fs.Path(dir, p), old, -1))
    val removed = BtrTableMeta.vacuumTemps(fs, root, retentionMs = 50000)
    assert(removed == 3, s"removed $removed")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_tmp_fresh_part.btr")),
      "fresh temp must survive retention")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, BtrTableMeta.MetaFile)))
    // table unaffected
    assert(spark.read.format("btr").load(dir).count() == 100)
  }
}
