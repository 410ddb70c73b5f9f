package graft.sources

import graft.format.{BtrFile, BtrTableMeta}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import BtrScanMetrics._

/** The btr scan's SQL metrics: planning counts agree with the planned
  * splits and the footers, and each query's plan carries exactly its own
  * counts, also while another query scans in the same session.
  */
class ScanMetricsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-scan-metrics-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(name: String) = {
    val d = s"/tmp/btr-scan-metrics-spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  /** Runs `df` and returns its own plan's btr scan metrics. */
  private def run(df: DataFrame): Map[String, Long] = {
    df.collect()
    ScanMetrics.of(df)
  }

  private def footerGroups(dir: String): Int = {
    val fs = new Path(dir).getFileSystem(BtrTableMeta.hadoopConf())
    BtrTableMeta.listDataFilesWithPartitions(fs, new Path(dir))
      .map(e => BtrFile.readFooter(fs, e.path, e.len).rowGroups.length).sum
  }

  test("metric classes instantiate by name; every driver-reported name is declared") {
    val dir = tmp("declared")
    (0 until 2000).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .coalesce(1).write.format("btr").option("btr.blockSize", "256").mode("overwrite").save(dir)
    val back = spark.read.format("btr").load(dir)
    val scanDf = back.filter($"id" < 300)
    val aggDf = back.selectExpr("count(*)")
    Seq(scanDf, aggDf).foreach(_.collect())
    val scans = Seq(scanDf, aggDf).flatMap(df => ScanMetrics.collectWithSubqueries(
      df.queryExecution.executedPlan) { case b: BatchScanExec => b.scan })
    assert(scans.exists(_.isInstanceOf[BtrScan]) && scans.exists(_.isInstanceOf[BtrAggScan]),
      s"precondition: a data scan and an aggregate scan, got $scans")
    scans.foreach { scan =>
      val declared = scan.supportedCustomMetrics()
      declared.foreach { m =>
        // Spark aggregates task values through a fresh instance made by name
        val made = Class.forName(m.getClass.getName).getConstructor().newInstance()
          .asInstanceOf[org.apache.spark.sql.connector.metric.CustomMetric]
        assert(made.name() == m.name() && made.aggregateTaskMetrics(Array(2L, 3L)) == "5")
      }
      val reported = scan.reportDriverMetrics().map(_.name()).toSet
      assert(reported.subsetOf(declared.map(_.name()).toSet), s"undeclared: $reported")
    }
  }

  test("planned groups equal the plan's groups on a packed multi-file scan") {
    val dir = tmp("packed")
    spark.range(0L, 5L * 4 * 1024, 1L, 5)
      .selectExpr("id", "(id * 37) % 1024 AS k", "concat('v', id) AS s")
      .write.format("btr").option("btr.blockSize", "1024").mode("overwrite").save(dir)
    val df = spark.read.format("btr").option("btr.splitParallelism", "3").load(dir)
      .select("id", "k")
    val m = run(df)
    assert(ScanGroups.planned(df).exists(_.isInstanceOf[BtrPackedInputPartition]),
      "precondition: a share that crosses files")
    assert(m(PlannedGroups) == ScanGroups.surviving(df))
    assert(m(PlannedGroups) == footerGroups(dir))
    // a packed task reports the work of all its slices: every planned
    // group decodes both projected columns
    assert(m(DecodedChunks) == 2 * m(PlannedGroups), s"$m")
  }

  test("planned groups equal the plan's groups on a partitioned scan") {
    val dir = tmp("partitioned")
    (0 until 4000).map(i => (i.toLong, i % 4, s"r$i")).toDF("id", "p", "s")
      .repartition(4, $"p").write.format("btr").option("btr.blockSize", "256")
      .partitionBy("p").mode("overwrite").save(dir)
    val back = spark.read.format("btr").load(dir)
    for (df <- Seq(back, back.filter($"p" === 2))) {
      val m = run(df)
      assert(m(PlannedGroups) > 0)
      assert(m(PlannedGroups) == ScanGroups.surviving(df), s"$m")
    }
  }

  test("on a filtered scan, planned plus stats-pruned groups are all the footers' groups") {
    val dir = tmp("filtered")
    (0 until 8192).map(i => (i.toLong, s"payload-$i")).toDF("id", "s")
      .repartition(2).sortWithinPartitions("id")
      .write.format("btr").option("btr.blockSize", "512").mode("overwrite").save(dir)
    val df = spark.read.format("btr").load(dir).filter($"id" < 1000)
    val m = run(df)
    assert(m(StatsPrunedGroups) > 0, s"precondition: stats prune some groups, $m")
    assert(m(PlannedGroups) == ScanGroups.surviving(df))
    assert(m(PlannedGroups) + m(StatsPrunedGroups) == footerGroups(dir), s"$m")
  }

  test("two concurrent scans in one session each report exactly their solo counts") {
    // A: 16 groups whose v straddles (50, 60) without a value inside it,
    // so every group skips after decoding v alone
    val a = tmp("concurrent-a")
    (0 until 8192).map(i => (if (i % 2 == 0) 0 else 100, s"payload-$i", i.toLong))
      .toDF("v", "s", "id").coalesce(1).write.format("btr").option("btr.blockSize", "512")
      .mode("overwrite").save(a)
    // B: 8 groups; the last two hold 55, so they survive and decode s and id
    val b = tmp("concurrent-b")
    (0 until 4096).map(i => (if (i % 2 == 1) 100 else if (i >= 3072) 55 else 0, s"q$i", i.toLong))
      .toDF("v", "s", "id").coalesce(1).write.format("btr").option("btr.blockSize", "512")
      .mode("overwrite").save(b)
    def query(dir: String): DataFrame =
      spark.read.format("btr").load(dir).filter($"v" > 50 && $"v" < 60)
    val soloA = run(query(a))
    val soloB = run(query(b))
    assert(soloA(LateMatSkippedGroups) == 16 && soloA(DecodedChunks) == 16, s"$soloA")
    assert(soloB(LateMatSkippedGroups) == 6 && soloB(DecodedChunks) == 8 + 2 * 2, s"$soloB")

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to 3) {
        val start = new java.util.concurrent.CyclicBarrier(2)
        def task(dir: String) = new java.util.concurrent.Callable[Map[String, Long]] {
          override def call(): Map[String, Long] = { start.await(); run(query(dir)) }
        }
        val fa = pool.submit(task(a))
        val fb = pool.submit(task(b))
        assert(fa.get() == soloA, s"round $round: A's plan reported ${fa.get()}")
        assert(fb.get() == soloB, s"round $round: B's plan reported ${fb.get()}")
      }
    } finally pool.shutdownNow()
  }
}
