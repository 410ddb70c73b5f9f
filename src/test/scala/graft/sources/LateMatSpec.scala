package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import BtrScanMetrics._

/** Late materialization: pushed-filter columns decode FIRST; a row group
  * whose decoded filter columns prove the conjunction can never be true
  * is skipped without decoding its sibling columns. Stats/bloom skipping
  * happens at planning; this is the runtime layer below it, for chunks
  * whose min/max straddle the predicate range.
  */
class LateMatSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("late-mat-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(name: String) = s"/tmp/late-mat-spec/$name"

  // every chunk holds both 0 and 100 ⇒ min/max straddle any interior
  // range, so PLANNING keeps all groups; only a row-level look can prove
  // a group empty for (50,60)
  private lazy val straddleDir: String = {
    val dir = tmp("straddle")
    val df = (0 until 8192)
      .map(i => (if (i % 2 == 0) 0 else 100, s"payload-$i-${"x" * 20}", i.toLong))
      .toDF("v", "s", "id")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "512")
      .mode("overwrite").save(dir)
    dir
  }

  test("empty conjunction range skips every group after decoding only the filter column") {
    val back = spark.read.format("btr").load(straddleDir)
    val m = ScanMetrics.during(spark) {
      val rows = back.filter($"v" > 50 && $"v" < 60).collect()
      assert(rows.isEmpty)
    }
    val skipped = m(LateMatSkippedGroups)
    val decodes = m(DecodedChunks)
    assert(skipped == 16, s"all 16 groups must skip row-level, got $skipped")
    // only the v chunks decode — never the 16 s/id sibling chunks each
    assert(decodes <= 16, s"sibling chunks decoded: $decodes total decodes")
  }

  test("partially matching groups emit exactly the right rows") {
    val back = spark.read.format("btr").load(straddleDir)
    val m = ScanMetrics.during(spark) {
      // matches odd rows with id < 100 — first group only
      val got = back.filter($"v" > 50 && $"id" < 100).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (1 until 100 by 2).map(_.toLong))
    }
    // groups past the first: their id min > 100 lets PLANNING skip them
    // via stats, and the id-range pred would prove them empty row-level
    // — either way every one of the 15 skips, with no sibling decodes
    val skipped = m(StatsPrunedGroups) + m(LateMatSkippedGroups)
    assert(skipped == 15, s"groups after the first must all skip, got $skipped ($m)")
  }

  test("string equality, IN, null-semantics and NaN comparisons stay Spark-exact") {
    val dir = tmp("semantics")
    val df = Seq[(Integer, String, java.lang.Double)](
      (1, "aa", 1.0), (2, null, Double.NaN), (3, "bb", -0.0), (null, "aa", 0.0),
      (5, "cc", 5.5), (6, "aa", Double.NaN), (7, "dd", null.asInstanceOf[java.lang.Double])
    ).toDF("k", "s", "x")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "2")
      .mode("overwrite").save(dir)
    val back = spark.read.format("btr").load(dir)
    def same(f: DataFrame => DataFrame): Unit = {
      val a = f(back).collect().map(_.toString).sorted.toSeq
      val b = f(df).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"got $a want $b")
    }
    same(_.filter($"s" === "aa"))
    same(_.filter($"s".isin("aa", "cc")))
    same(_.filter($"s".isNull))
    same(_.filter($"s".isNotNull && $"k" > 2))
    same(_.filter($"x" > 2.0)) // NaN > 2.0 is TRUE in Spark's ordering
    same(_.filter($"x" === 0.0)) // matches -0.0 too
    same(_.filter($"x".isNaN === false || $"x" < 100.0))
    same(_.filter($"k".isin(1, 6, 7)))
    same(_.filter($"s".startsWith("a")))
  }

  test("partition-column pred combined with data pred keeps all matching rows") {
    // regression: partition-column predicates used to be excluded from the
    // decode-first set while their closures stayed in the conjunction, so
    // they evaluated against never-filled vectors and skipped EVERY group
    val dir = tmp("part_mix")
    val df = (0 until 100).map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("id", "p")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "16")
      .partitionBy("p").mode("overwrite").save(dir)
    val back = spark.read.format("btr").load(dir)
    assert(back.filter($"p" === "even" && $"id" > 10).count() == 44)
    val got = back.filter($"p" === "even" && $"id" > 10 && $"id" < 30)
      .select("id").collect().map(_.getInt(0)).sorted
    assert(got.toSeq == (12 until 30 by 2))
    // partition-only pred still returns every partition row
    assert(back.filter($"p" === "odd").count() == 50)
    // mixed OR across partition and data columns stays exact
    val or = back.filter($"p" === "odd" || $"id" === 0).count()
    assert(or == 51)
  }

  test("runtime IN filters prune row-level through the same path") {
    val dir = tmp("runtime_in")
    // ids interleaved so min/max of every chunk covers the probe set
    val df = (0 until 4096).map(i => (if (i % 2 == 0) i else 8000 - i, s"r$i")).toDF("id", "s")
    df.coalesce(1).write.format("btr").option("btr.blockSize", "256")
      .mode("overwrite").save(dir)
    val back = spark.read.format("btr").load(dir)
    val got = back.filter($"id".isin(17, 4001)).collect()
    val want = df.filter($"id".isin(17, 4001)).collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq)
  }
}
