package graft.sources

import graft.format.BtrTableMeta
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot log is O(commit), not O(table): ordinary commits write
  * DELTA entries (the commit's own add/remove sets, no table listing);
  * full checkpoints happen only for a table's first entry, on the
  * [[BtrLog.CheckpointInterval]] cadence, and for operations without
  * clean add/remove bookkeeping. Resolution replays deltas from the
  * nearest checkpoint; pruning never strands a delta without its base.
  */
class BtrLogDeltaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("log-delta-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.catalog.graft", "graft.sources.BtrCatalog")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String) = {
    val d = s"/tmp/btr-logdelta-spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  private def fsRoot(dir: String) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(BtrTableMeta.hadoopConf())
    (fs, fs.makeQualified(p))
  }

  test("append commits record deltas — no full table listing after v1") {
    val dir = tmp("no-listing")
    import spark.implicits._
    Seq(1).toDF("x").write.format("btr").mode("overwrite").save(dir) // v1: full
    val (fs, root) = fsRoot(dir)
    val before = BtrLog.listingsFor(new Path(dir))
    (2 to 6).foreach(i =>
      Seq(i).toDF("x").write.format("btr").mode("append").save(dir)) // v2..v6
    assert(BtrLog.listingsFor(new Path(dir)) == before,
      "append commits must not list the table for the snapshot log")
    // the entries really are deltas
    (2L to 6L).foreach { v =>
      val e = BtrLog.readEntry(fs, root, v)
      assert(e.isDelta && e.add.length == 1 && e.remove.isEmpty, e.toString)
    }
    // and each version still resolves to the right cumulative state
    (1L to 6L).foreach { v =>
      assert(spark.read.format("btr").option("btr.versionAsOf", v.toString)
        .load(dir).count() == v)
    }
  }

  test("DELETE and overwrite record deltas with the replaced files as removes") {
    val dir = tmp("dml-delta")
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("x", "p")
      .write.format("btr").partitionBy("p").mode("overwrite").save(dir) // v1
    spark.sql(s"DELETE FROM graft.`$dir` WHERE p = 'a'")                // v2
    val (fs, root) = fsRoot(dir)
    val del = BtrLog.readEntry(fs, root, 2L)
    assert(del.isDelta && del.add.isEmpty && del.remove.length == 1 &&
      del.remove.head.startsWith("p=a/"), del.toString)
    Seq((9, "b")).toDF("x", "p")
      .write.format("btr").partitionBy("p").mode("overwrite").save(dir) // v3
    val ow = BtrLog.readEntry(fs, root, 3L)
    assert(ow.isDelta && ow.add.nonEmpty && ow.remove.nonEmpty, ow.toString)
    assert(spark.read.format("btr").option("btr.versionAsOf", "3").load(dir).count() == 1)
  }

  test("every CheckpointInterval-th version is a full self-healing checkpoint") {
    val dir = tmp("cadence")
    import spark.implicits._
    Seq(0).toDF("x").write.format("btr").mode("overwrite").save(dir)
    (2 to BtrLog.CheckpointInterval + 1).foreach(i =>
      Seq(i).toDF("x").write.format("btr").mode("append").save(dir))
    val (fs, root) = fsRoot(dir)
    val cp = BtrLog.readEntry(fs, root, BtrLog.CheckpointInterval.toLong)
    assert(!cp.isDelta && cp.files.length == BtrLog.CheckpointInterval,
      s"v${BtrLog.CheckpointInterval} must be a full checkpoint: $cp")
    assert(BtrLog.readEntry(fs, root, BtrLog.CheckpointInterval + 1L).isDelta)
  }

  test("entries carry file sizes; resolution reports them") {
    val dir = tmp("sizes")
    import spark.implicits._
    Seq(1, 2, 3).toDF("x").repartition(1)
      .write.format("btr").mode("overwrite").save(dir)                     // v1 full
    Seq(4).toDF("x").write.format("btr").mode("append").save(dir)          // v2 delta
    val (fs, root) = fsRoot(dir)
    val snap = BtrLog.resolveSnapshot(fs, root, 2L)
    assert(snap.files.length == 2)
    val rootLen = root.toUri.getPath.length + 1
    BtrTableMeta.listDataFilesWithPartitions(fs, root).foreach { e =>
      val rel = e.path.toUri.getPath.substring(rootLen)
      assert(snap.sizes.get(rel).contains(e.len), s"$rel: ${snap.sizes.get(rel)} vs ${e.len}")
    }
  }

  test("pruning keeps the oldest retained version resolvable (delta chains keep their base)") {
    val dir = tmp("prune")
    val (fs, root) = fsRoot(dir)
    import spark.implicits._
    Seq(0).toDF("x").write.format("btr").mode("overwrite").save(dir)
    (2 to BtrLog.KeepEntries + 10).foreach(i =>
      Seq(i).toDF("x").write.format("btr").mode("append").save(dir))
    val latest = BtrLog.latestVersion(fs, root).get
    assert(latest == BtrLog.KeepEntries + 10L)
    // find the oldest retained entry; it must resolve without error
    val logDir = new Path(root, BtrLog.LogDir)
    val oldest = fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{20}\\.json") => n.substring(1, 21).toLong }
      .min
    val snap = BtrLog.resolveSnapshot(fs, root, oldest)
    assert(snap.files.length == oldest, s"v$oldest resolves to ${snap.files.length} files")
    // and the oldest retained entry is a full checkpoint (prune invariant)
    assert(!BtrLog.readEntry(fs, root, oldest).isDelta)
    // resolution works for the whole retained span
    assert(BtrLog.resolveSnapshot(fs, root, latest).files.length == latest)
  }

  test("btr.logRetention raises the bound: a consumer lagging past the default still resolves") {
    val dir = tmp("long-retention")
    val (fs, root) = fsRoot(dir)
    import spark.implicits._
    Seq(0).toDF("x").write.format("btr")
      .option("btr.logRetention", "200").mode("overwrite").save(dir)     // v1
    assert(BtrLog.keepEntriesFor(fs, root) == 200)
    // commits WAY past the default KeepEntries=64, recorded through the
    // log API over tiny planted files (checkpoint entries re-list the
    // directory, so the rels must really exist)
    (2 to BtrLog.KeepEntries + 20).foreach { i =>
      val out = fs.create(new Path(root, s"f$i.btr"), true)
      out.write(Array[Byte](1, 2, 3)); out.close()
      BtrLog.recordDelta(fs, root, "append", added = Seq(s"f$i.btr"), removed = Nil)
    }
    val latest = BtrLog.latestVersion(fs, root).get
    assert(latest == BtrLog.KeepEntries + 20L)
    // a consumer still holding v2 (lag > default retention) resolves its
    // range — the whole point of per-table retention
    val r = BtrChanges.resolveRange(fs, root, 2L, latest)
    assert(r.added.addedRel.size == latest - 2,
      s"every commit in (2, $latest] must attribute, got ${r.added.addedRel.size}")
    // lowering retention (recorded table meta) prunes at the next commit —
    // back to a full base
    val (blockSize, cascade) = BtrTableMeta.readGeometry(fs, root)
    BtrTableMeta.write(fs, root, BtrTableMeta.readSchema(fs, root), blockSize, cascade,
      Nil, logRetention = Some(5))
    BtrLog.recordDelta(fs, root, "append", added = Nil, removed = Nil)
    val logDir = new Path(root, BtrLog.LogDir)
    val kept = fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{20}\\.json") => n.substring(1, 21).toLong }
      .sorted
    assert(kept.length <= 5 + BtrLog.CheckpointInterval,
      s"retention 5 must prune (kept ${kept.length})")
    assert(!BtrLog.readEntry(fs, root, kept.head).isDelta,
      "oldest retained entry must stay a full checkpoint")
    assert(BtrLog.resolveSnapshot(fs, root, kept.last).version == kept.last)
  }

  test("legacy full-listing entries (no sizes, pre-delta) still read") {
    val parsed = BtrLog.parse(
      """{"version":7,"ts":1755000000123,"action":"append","files":["a.btr","p=1/b.btr"]}""")
    assert(parsed == BtrLog.Entry(7L, 1755000000123L, "append", Seq("a.btr", "p=1/b.btr")))
    val delta = BtrLog.parse(
      """{"version":8,"ts":5,"action":"epoch","add":["c.btr"],"addSizes":[42],"remove":["a.btr"]}""")
    assert(delta.isDelta && delta.add == Seq("c.btr") && delta.remove == Seq("a.btr") &&
      delta.sizes == Map("c.btr" -> 42L))
  }

  // ---- metadata-file compatibility pins: bodies in the exact layout the
  // hand-rolled encoders wrote (every btr table on disk carries these)
  // must parse to the same values, and re-encode byte-identically

  private val pinSchema = org.apache.spark.sql.types.StructType.fromDDL("k INT, v STRING")
  private val pinSchemaJson =
    """{"type":"struct","fields":[{"name":"k","type":"integer","nullable":true,"metadata":{}},""" +
      """{"name":"v","type":"string","nullable":true,"metadata":{}}]}"""

  test("meta pin: every optional key absent, each alone, and all together") {
    import graft.format.{BtrFile, BtrJson}
    val v = BtrFile.Version
    val bare = BtrTableMeta.Meta(pinSchema, 4096, 2, Seq("k"))
    val cases = Seq(
      "" -> bare,
      ""","retainRemoved":true""" -> bare.copy(retainRemoved = true),
      ""","logRetention":10""" -> bare.copy(logRetention = Some(10)),
      ""","deletionVectors":true""" -> bare.copy(deletionVectors = true),
      ""","dvPurgeThreshold":0.25""" -> bare.copy(dvPurgeThreshold = Some(0.25)),
      ""","dvPurgeThreshold":1.0E-4""" -> bare.copy(dvPurgeThreshold = Some(1.0e-4)),
      ""","clusterBy":["v","a\"b"]""" -> bare.copy(clusterBy = Seq("v", "a\"b")),
      ""","retainRemoved":true,"logRetention":10,"deletionVectors":true,""" +
        """"dvPurgeThreshold":0.25,"clusterBy":["v"]""" ->
        bare.copy(retainRemoved = true, logRetention = Some(10), deletionVectors = true,
          dvPurgeThreshold = Some(0.25), clusterBy = Seq("v")))
    cases.foreach { case (optional, want) =>
      val body =
        s"""{"version":$v,"blockSize":4096,"cascade":2$optional,"partitionCols":["k"],""" +
          s""""schema":$pinSchemaJson}"""
      assert(BtrJson.parseMeta(body) == want, body)
      assert(BtrJson.meta(want) == body)
    }
    // tables written before geometry was recorded read the defaults
    assert(BtrJson.parseMeta(s"""{"version":1,"partitionCols":[],"schema":$pinSchemaJson}""") ==
      BtrTableMeta.Meta(pinSchema, BtrFile.DefaultBlockSize, BtrFile.DefaultCascadeDepth))
  }

  test("meta pin: field metadata and malformed bodies never read as table policy") {
    import graft.format.BtrJson
    // the policy keys inside a column's field metadata stay column metadata
    val md = """{"deletionVectors":true,"retainRemoved":true,"logRetention":1,"clusterBy":["nope"]}"""
    val meta = BtrJson.parseMeta(
      """{"version":8,"blockSize":65536,"cascade":3,"partitionCols":[],"schema":""" +
        """{"type":"struct","fields":[{"name":"x","type":"long","nullable":true,""" +
        s""""metadata":$md}]}}""")
    assert(!meta.retainRemoved && !meta.deletionVectors && meta.logRetention.isEmpty &&
      meta.clusterBy.isEmpty)
    assert(meta.schema("x").metadata.getBoolean("deletionVectors"))
    // a torn body, a mistyped key and a missing schema fail loudly
    Seq(
      """{"version":8,"blockSize":65536,"casc""",
      s"""{"version":8,"retainRemoved":"true","partitionCols":[],"schema":$pinSchemaJson}""",
      """{"version":8,"blockSize":65536,"cascade":3,"partitionCols":[]}""",
      ""
    ).foreach(body => intercept[Exception](BtrJson.parseMeta(body)))
  }

  test("log entry pin: full and delta entries encode in the recorded layout") {
    import graft.format.BtrJson
    val full = """{"version":3,"ts":5,"action":"append","files":["a.btr","p=1/b.btr"],""" +
      """"sizes":[10,20],"txnApp":"app\"1","txnVer":7}"""
    val fullEntry = BtrLog.Entry(3L, 5L, "append", Seq("a.btr", "p=1/b.btr"),
      sizes = Map("a.btr" -> 10L, "p=1/b.btr" -> 20L), txnApp = Some("app\"1"), txnVer = Some(7L))
    assert(BtrLog.parse(full) == fullEntry)
    assert(BtrJson.logEntry(fullEntry) == full)
    // -1 = size unknown (status failed at commit): not a recorded size
    val delta = """{"version":4,"ts":6,"action":"delete","add":["c\\d.btr"],""" +
      """"addSizes":[-1],"remove":["a.btr"]}"""
    val deltaEntry = BtrLog.Entry(4L, 6L, "delete", Nil, isDelta = true,
      add = Seq("c\\d.btr"), remove = Seq("a.btr"))
    assert(BtrLog.parse(delta) == deltaEntry)
    assert(BtrJson.logEntry(deltaEntry) == delta)
    // control characters: the \u00XX form every reader decodes (`u` holds a
    // JSON-text backslash-u: the compiler would decode one in the literal)
    val u = "\\u"
    val ctl = BtrLog.parse(s"""{"version":1,"ts":1,"action":"a\\n${u}0001","files":[]}""")
    assert(ctl.action == "a\n\u0001")
    assert(BtrJson.logEntry(ctl).contains(s""""action":"a${u}000a${u}0001""""))
  }

  test("swap journal, stats line and stream file-log pins") {
    import graft.format.BtrJson
    import graft.format.BtrTableMeta.{ColumnStats, SwapGroup}
    val u = "\\u" // a JSON-text backslash-u (see the log entry pin)
    val journal = """{"groups":[{"dir":"p=1","finals":["part-a.btr"],""" +
      s""""sources":["part-b.btr","c\\"d.btr"]},{"dir":"","finals":[],"sources":["x${u}0001.btr"]}]}"""
    val groups = Seq(SwapGroup("p=1", Seq("part-a.btr"), Seq("part-b.btr", "c\"d.btr")),
      SwapGroup("", Nil, Seq("x\u0001.btr")))
    assert(BtrJson.parseSwapGroups(journal) == groups)
    assert(BtrJson.swapGroups(groups) == journal)
    val stats =
      """{"column":"l_orderkey","rows":60000,"nulls":0,"raw_bytes":480000,""" +
        """"compressed_bytes":105011,"ratio":4.5709}""" + "\n" +
        """{"column":"e","rows":60000,"nulls":60000,"raw_bytes":0,""" +
        """"compressed_bytes":0,"ratio":0.0000}""" + "\n"
    val cols = Seq(ColumnStats("l_orderkey", 60000L, 0L, 480000L, 105011L, 4.5709),
      ColumnStats("e", 60000L, 60000L, 0L, 0L, 0.0))
    assert(BtrJson.parseStats(stats) == cols)
    assert(BtrJson.stats(cols.updated(0, cols.head.copy(ratio = 480000.0 / 105011))) == stats)
    val names = """["part-00000-a.btr","p=x%2Fy/c\"d.btr","e\\f.btr"]"""
    assert(BtrJson.parseNames(names) == Seq("part-00000-a.btr", "p=x%2Fy/c\"d.btr", "e\\f.btr"))
    assert(BtrJson.names(BtrJson.parseNames(names)) == names)
    assert(BtrJson.parseNames("[]").isEmpty)
  }

  test("a swap journal that exists but does not parse fails the read, naming the file") {
    import spark.implicits._
    val dir = tmp("torn-journal")
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.format("btr").mode("overwrite").save(dir)
    val a = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_")).head
    java.nio.file.Files.copy(a.toPath, new java.io.File(dir, "B.btr").toPath)
    val journal = new java.io.File(dir, "_btr_swap_x.json")
    // a whole journal hides the copy's source: 3 rows
    java.nio.file.Files.writeString(journal.toPath,
      s"""{"groups":[{"dir":"","finals":["B.btr"],"sources":["${a.getName}"]}]}""")
    assert(spark.read.format("btr").load(dir).count() == 3)
    // a damaged one used to be skipped, un-hiding both sides (6 rows)
    java.nio.file.Files.writeString(journal.toPath,
      """{"groups":[{"dir":"","finals":["B.btr"],"sources":["A""")
    val e = intercept[Exception](spark.read.format("btr").load(dir).count())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
      t.getMessage.contains("_btr_swap_x.json")), chain.map(_.toString).mkString("\n"))
  }

  test("rel-path reuse: a pinned snapshot NEVER silently reads a re-created file") {
    // v1 writes file F (retained table); DELETE moves F to the store; a
    // foreign file of DIFFERENT length is then planted at F's rel path.
    // VERSION AS OF 1 must serve the store incarnation — not the imposter
    val dir = tmp("name-reuse")
    import spark.implicits._
    Seq(1, 2, 3).toDF("x").repartition(1).write.format("btr")
      .option("btr.retainRemoved", "true").mode("overwrite").save(dir)   // v1
    val (fs, root) = fsRoot(dir)
    val rootLen = root.toUri.getPath.length + 1
    val origRel = BtrTableMeta.listDataFilesWithPartitions(fs, root)
      .map(_.path.toUri.getPath.substring(rootLen)).head
    spark.sql(s"DELETE FROM graft.`$dir` WHERE x > 0")                   // v2 → F to store
    // plant an imposter with the same rel name but different content/size
    val donor = tmp("name-reuse-donor")
    Seq(100, 200, 300, 400, 500, 600).toDF("x").repartition(1)
      .write.format("btr").mode("overwrite").save(donor)
    val (dfs, droot) = fsRoot(donor)
    val donorFile = BtrTableMeta.listDataFilesWithPartitions(dfs, droot).head.path
    val dst = new Path(root, origRel)
    org.apache.hadoop.fs.FileUtil.copy(dfs, donorFile, fs, dst, false, fs.getConf)
    assert(fs.getFileStatus(dst).getLen !=
      graft.format.BtrRetention.resolveRemoved(fs, root, origRel).get.len,
      "test setup: the imposter must differ in length")
    val rows = spark.read.format("btr").option("btr.versionAsOf", "1")
      .load(dir).as[Int].collect().sorted.toSeq
    assert(rows == Seq(1, 2, 3), s"snapshot v1 must read the ORIGINAL rows, got $rows")
  }
}
