package graft.sources

import graft.format.Bloom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-chunk split-block bloom filters: equality probes prune chunks
  * whose min/max ranges overlap the value (the case interleaved/unsorted
  * keys always hit), and never prune a chunk that holds the value.
  */
class BloomSkipSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("bloom-skip-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(name: String) = s"/tmp/btr-bloom-spec/$name"

  test("split-block bloom core: no false negatives, low false-positive rate") {
    val present = (0 until 1000).map(i => Bloom.hashBytes(s"key-$i".getBytes))
    val set = new Bloom.LongSet()
    present.foreach(set.add)
    val bits = Bloom.build(set, maxBytes = 2048)
    assert(bits != null)
    assert(present.forall(Bloom.mightContain(bits, _)), "bloom must never miss an inserted key")
    val fp = (0 until 10000).count(i => Bloom.mightContain(bits, Bloom.hashBytes(s"other-$i".getBytes)))
    assert(fp < 500, s"false-positive rate too high: $fp/10000") // target ~1%, budget 5%
    // over-budget cardinality yields no filter at all (never a saturated one)
    val big = new Bloom.LongSet()
    (0 until 100000).foreach(i => big.add(Bloom.hashLong(i.toLong)))
    assert(Bloom.build(big, maxBytes = 2048) == null)
  }

  test("string equality inside every chunk's min/max range skips via bloom") {
    // 4 row groups of 256 rows; every group spans ["id-00000".."id-09996"]
    // so min/max can never prune an absent probe that sorts inside
    val rows = (0 until 1024).map(i => (i, f"id-${(i * 7) % 9999}%05d"))
    rows.toDF("n", "key").coalesce(1).write.format("btr")
      .option("btr.blockSize", "256").mode("overwrite").save(tmp("strings"))
    val back = spark.read.format("btr").load(tmp("strings"))

    // absent value lexicographically inside every chunk's bounds
    val absent = back.filter($"key" === "id-00500x")
    assert(absent.count() == 0)
    assert(ScanGroups.surviving(absent) == 0,
      "bloom should prune all groups for an in-range absent string")

    // every present value is found (no false skip), probing one per group
    Seq(0, 300, 600, 1000).foreach { i =>
      val k = f"id-${(i * 7) % 9999}%05d"
      assert(back.filter($"key" === k).count() == rows.count(_._2 == k), s"probe $k")
    }

    // In() with all-absent values prunes; with one present value it doesn't
    val inAbsent = back.filter($"key".isin("id-00500x", "id-00777x"))
    assert(inAbsent.count() == 0 && ScanGroups.surviving(inAbsent) == 0)
    val inMixed = back.filter($"key".isin("id-00500x", rows.head._2))
    assert(inMixed.count() == rows.count(_._2 == rows.head._2))
  }

  test("int equality skips via bloom when ranges overlap") {
    // interleaved evens: every group spans almost the full domain, but
    // only multiples of 2 exist — odd probes are bloom-prunable
    val rows = (0 until 1024).map(i => ((i * 2 * 7919) % 100000, i))
    rows.toDF("k", "v").coalesce(1).write.format("btr")
      .option("btr.blockSize", "256").mode("overwrite").save(tmp("ints"))
    val back = spark.read.format("btr").load(tmp("ints"))

    val missing = (0 until 100000).find(x => !rows.exists(_._1 == x)).get
    val q = back.filter($"k" === missing)
    assert(q.count() == 0)
    assert(ScanGroups.surviving(q) == 0, s"bloom should prune all groups for absent int $missing")

    val presentKey = rows(513)._1
    assert(back.filter($"k" === presentKey).count() == rows.count(_._1 == presentKey))
  }

  test("high-cardinality chunks store no bloom; disabling the option writes none") {
    import graft.format.{BtrFile, BtrTableMeta}
    // unique long strings at cardinality above the 2 KiB budget → no bloom
    val many = (0 until 5000).map(i => (i, s"unique-value-$i"))
    many.toDF("n", "key").coalesce(1).write.format("btr")
      .option("btr.blockSize", "8192").mode("overwrite").save(tmp("hicard"))
    val fs = new org.apache.hadoop.fs.Path(tmp("hicard"))
      .getFileSystem(BtrTableMeta.hadoopConf())
    def footers(dir: String): Seq[BtrFile.ColumnChunkMeta] =
      BtrTableMeta.listDataFilesWithPartitions(fs, new org.apache.hadoop.fs.Path(dir)).flatMap { e =>
        BtrFile.readFooter(fs, e.path, e.len).rowGroups.flatMap(_.columns)
      }.toSeq
    val hicard = footers(tmp("hicard"))
    assert(hicard.filter(_.statsKind == 3).forall(_.bloom == null),
      "5000 distinct values exceed the 2 KiB bloom budget")
    assert(hicard.filter(_.statsKind == 1).forall(_.bloom == null),
      "5000 distinct ints exceed the 2 KiB bloom budget")

    // same data under a raised budget stores blooms; option off stores none
    many.toDF("n", "key").coalesce(1).write.format("btr")
      .option("btr.blockSize", "8192").option("btr.bloom.maxBytes", "65536")
      .mode("overwrite").save(tmp("bigbudget"))
    assert(footers(tmp("bigbudget")).filter(_.statsKind == 3).forall(_.bloom != null))

    many.toDF("n", "key").coalesce(1).write.format("btr")
      .option("btr.blockSize", "8192").option("btr.bloom.maxBytes", "65536")
      .option("btr.bloom.enabled", "false")
      .mode("overwrite").save(tmp("nobloom"))
    assert(footers(tmp("nobloom")).forall(_.bloom == null))
  }

  test("blooms survive the footer index and compaction") {
    val rows = (0 until 1024).map(i => (i, f"id-${(i * 7) % 9999}%05d"))
    rows.toDF("n", "key").repartition(4).write.format("btr")
      .option("btr.blockSize", "256").mode("overwrite").save(tmp("compact"))
    BtrCompact.compact(spark, tmp("compact"), targetBytes = 1L << 30)
    val back = spark.read.format("btr").load(tmp("compact"))
    assert(back.count() == 1024)
    val absent = back.filter($"key" === "id-00500x")
    assert(absent.count() == 0)
    assert(ScanGroups.surviving(absent) == 0, "bloom pruning must survive compaction + index")
  }
}
