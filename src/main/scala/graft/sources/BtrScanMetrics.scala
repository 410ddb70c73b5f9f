package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** The btr scan's SQL metrics: what one query's scan planned, pruned,
  * decoded and skipped. The driver reports the planning counts
  * (`Scan.reportDriverMetrics`, after the final planning) and each task's
  * reader reports its work (`PartitionReader.currentMetricsValues`).
  * Spark sums them per scan node, shows them in the SQL tab and keeps
  * them in the plan's `BatchScanExec.metrics`, so concurrent queries
  * never see each other's counts.
  */
object BtrScanMetrics {
  /** Row groups the final planning kept (driver). */
  val PlannedGroups = "plannedGroups"
  /** Row groups planning pruned by footer min/max or bloom (driver). */
  val StatsPrunedGroups = "statsPrunedGroups"
  /** Footer tail-reads: at planning for the data scan (driver), in tasks
    * for the metadata-only aggregate scan (task).
    */
  val FooterReads = "footerReads"
  /** Column chunks decoded (task). */
  val DecodedChunks = "decodedChunks"
  /** Row groups dropped after decoding only their filter columns (task). */
  val LateMatSkippedGroups = "lateMatSkippedGroups"

  def scanMetrics: Array[CustomMetric] = Array(new PlannedGroupsMetric,
    new StatsPrunedGroupsMetric, new FooterReadsMetric, new DecodedChunksMetric,
    new LateMatSkippedGroupsMetric)

  def aggMetrics: Array[CustomMetric] = Array(new FooterReadsMetric)

  def value(metric: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = v
  }
}

// Spark instantiates a metric class by name to aggregate task values, so
// each is a top-level class with a public no-arg constructor
abstract class BtrSumMetric(metric: String, label: String) extends CustomSumMetric {
  override def name(): String = metric
  override def description(): String = label
}

class PlannedGroupsMetric
    extends BtrSumMetric(BtrScanMetrics.PlannedGroups, "row groups planned")
class StatsPrunedGroupsMetric
    extends BtrSumMetric(BtrScanMetrics.StatsPrunedGroups, "row groups pruned by stats or bloom")
class FooterReadsMetric
    extends BtrSumMetric(BtrScanMetrics.FooterReads, "footer tail-reads")
class DecodedChunksMetric
    extends BtrSumMetric(BtrScanMetrics.DecodedChunks, "column chunks decoded")
class LateMatSkippedGroupsMetric
    extends BtrSumMetric(BtrScanMetrics.LateMatSkippedGroups, "row groups skipped after filter decode")

/** One task's reader work counts. The slices of a packed split add to one
  * set, and a task that reads several splits continues from its previous
  * reader's counts (`initMetricsValues`), so each task reports its total.
  */
final class BtrReadCounts {
  var decodedChunks = 0L
  var lateMatSkippedGroups = 0L

  def values: Array[CustomTaskMetric] = Array(
    BtrScanMetrics.value(BtrScanMetrics.DecodedChunks, decodedChunks),
    BtrScanMetrics.value(BtrScanMetrics.LateMatSkippedGroups, lateMatSkippedGroups))

  def add(prior: Array[CustomTaskMetric]): Unit = prior.foreach { m =>
    m.name() match {
      case BtrScanMetrics.DecodedChunks => decodedChunks += m.value()
      case BtrScanMetrics.LateMatSkippedGroups => lateMatSkippedGroups += m.value()
      case _ => ()
    }
  }
}
