package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The row groups a btr scan plans to read. A planned split is either
  * one file's slice or a packed split of several slices, and every count
  * here walks both kinds.
  */
object ScanGroups {
  def slicesOf(p: InputPartition): Seq[BtrInputPartition] = p match {
    case pk: BtrPackedInputPartition => pk.slices.toSeq
    case s: BtrInputPartition => Seq(s)
  }

  def count(parts: Seq[InputPartition]): Int = parts.flatMap(slicesOf).map(_.groups.length).sum

  /** The splits of `df`'s btr scan (its plan's first leaf). */
  def planned(df: DataFrame): Seq[InputPartition] =
    df.queryExecution.executedPlan.collectLeaves().head.asInstanceOf[BatchScanExec].inputPartitions

  /** Row groups that survive planning in `df`'s btr scan. */
  def surviving(df: DataFrame): Int = count(planned(df))
}
