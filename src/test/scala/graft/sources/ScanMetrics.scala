package graft.sources

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The btr scan metrics ([[BtrScanMetrics]]) that SQL executions report:
  * of one executed plan, or summed over every execution a block runs.
  * Names the scans do not report read as 0.
  */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  /** Metrics summed over the btr scan nodes of an executed plan, its
    * adaptive stages and subqueries included.
    */
  def of(plan: SparkPlan): Map[String, Long] = {
    val scans = collectWithSubqueries(plan) {
      case b: BatchScanExec if b.scan.isInstanceOf[BtrScan] || b.scan.isInstanceOf[BtrAggScan] => b
    }
    // a node reachable twice (a reused subquery) ran once
    val distinct = scans.foldLeft(List.empty[BatchScanExec])((seen, s) =>
      if (seen.exists(_ eq s)) seen else s :: seen)
    sum(distinct.flatMap(_.customMetrics.map { case (k, m) => k -> m.value }))
  }

  private def sum(values: Seq[(String, Long)]): Map[String, Long] =
    values.groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0L)

  /** Metrics of `df`'s own executed plan (after an action on `df`). */
  def of(df: DataFrame): Map[String, Long] = of(df.queryExecution.executedPlan)

  /** Runs `body` and sums the metrics over every SQL execution of
    * `spark`'s session that finished while it ran.
    */
  def during(spark: SparkSession)(body: => Any): Map[String, Long] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    sum(plans.asScala.toSeq.flatMap(of))
  }

  /** Returns once every event posted so far has reached the session's
    * execution listeners: they share one listener queue with a marker
    * job, so the marker's end arrives after them.
    */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val key = "graft.scanMetrics.marker"
    val token = java.util.UUID.randomUUID().toString
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == token) markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get()) done.countDown()
    }
    sc.addSparkListener(marker)
    try {
      sc.setLocalProperty(key, token)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      require(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(marker)
  }
}
