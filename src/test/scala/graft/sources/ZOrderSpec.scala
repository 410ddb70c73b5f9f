package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering: after OPTIMIZE ZORDER, chunk skipping prunes on
  * EVERY clustered dimension; single-column range clustering only prunes
  * its leading column.
  */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("zorder-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(name: String) = s"/tmp/btr-zorder-spec/$name"

  // 100x100 grid in shuffled order: every (x, y) pair exactly once
  private lazy val grid = {
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 100).flatMap(x => (0 until 100).map(y => (x, y))).toVector)
      .toDF("x", "y")
  }

  test("z-value kernel interleaves bucket bits and matches interpreted eval") {
    val bounds = Seq(Seq(10.0, 20.0, 30.0), Seq(100.0, 200.0, 300.0))
    val rows = Seq((5.0, 150.0), (25.0, 350.0), (35.0, 50.0))
      .toDF("a", "b")
      .select(graft.functions.ZValueExpr.of(array($"a", $"b"), bounds, 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // buckets: (0,1) (2,3) (3,0); interleave 2 bits x 2 cols (x at even positions)
    def z(bx: Int, by: Int) = (bx & 1) | ((by & 1) << 1) | (((bx >> 1) & 1) << 2) | (((by >> 1) & 1) << 3)
    assert(rows == Seq(z(0, 1), z(2, 3), z(3, 0)), rows.toString)

    // codegen and interpreted agree under codegen-only mode
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val again = Seq((5.0, 150.0)).toDF("a", "b")
        .select(graft.functions.ZValueExpr.of(array($"a", $"b"), bounds, 2)).head.getLong(0)
      assert(again == z(0, 1))
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("OPTIMIZE ZORDER prunes on both dimensions; range clustering only on the leading one") {
    grid.repartition(4).write.format("btr").option("btr.blockSize", "256")
      .mode("overwrite").save(tmp("z"))
    BtrCompact.rewriteZOrdered(spark, tmp("z"), Seq("x", "y"), targetBytes = 1L << 20, bits = 6)
    val zed = spark.read.format("btr").load(tmp("z"))
    assert(zed.count() == 10000)
    assert(zed.select(sum($"x" * 100 + $"y")).head.getLong(0) == (0L until 10000L).sum)

    grid.repartition(4).write.format("btr").option("btr.blockSize", "256")
      .mode("overwrite").save(tmp("ranged"))
    BtrCompact.rewriteClustered(spark, tmp("ranged"), Seq("x"), targetBytes = 1L << 20)
    val ranged = spark.read.format("btr").load(tmp("ranged"))

    val total = ScanGroups.surviving(zed.filter($"x".isNotNull))

    // point probes on each dimension: z-order prunes both
    val zx = ScanGroups.surviving(zed.filter($"x" === 42))
    val zy = ScanGroups.surviving(zed.filter($"y" === 42))
    val rx = ScanGroups.surviving(ranged.filter($"x" === 42))
    val ry = ScanGroups.surviving(ranged.filter($"y" === 42))
    assert(zed.filter($"x" === 42).count() == 100 && zed.filter($"y" === 42).count() == 100)
    assert(zx < total / 2, s"zorder x probe: $zx of $total groups")
    assert(zy < total / 2, s"zorder y probe: $zy of $total groups")
    // range clustering serves x but reads (nearly) everything for y —
    // the per-chunk bloom may prune the odd group whose 256 rows happen
    // to miss y=42, min/max never can
    assert(rx < total / 2, s"ranged x probe: $rx of $total")
    assert(ry > total * 3 / 4, s"ranged y probe should scan almost all groups, got $ry of $total")
    // and z-order's y pruning must beat range clustering's by a wide margin
    assert(zy * 2 < ry, s"zorder y=$zy vs ranged y=$ry")

    // the clustering-quality inspector quantifies the same story from
    // footers alone: on the x-ranged table x is near-disjoint while y is
    // near-worst-case; z-ordering keeps BOTH well below random
    val rq = graft.functions.BtrInspect.clusteringQuality(spark, tmp("ranged"))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getLong(1))).toMap
    val zq = graft.functions.BtrInspect.clusteringQuality(spark, tmp("z"))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getLong(1))).toMap
    val nGroups = rq("x")._2.toDouble
    assert(rq("x")._1 <= 2.0, s"ranged x avg_stab ${rq("x")._1}")
    assert(rq("y")._1 > nGroups / 2, s"ranged y should be near-random: ${rq("y")._1}")
    assert(zq("x")._1 < nGroups / 3 && zq("y")._1 < nGroups / 3,
      s"zorder stabs x=${zq("x")._1} y=${zq("y")._1} of $nGroups")
  }
}
