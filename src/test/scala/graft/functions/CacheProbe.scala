package org.apache.spark.sql.graft

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spec access to Spark-internal cache and stage facts (both are
  * package-private to Spark, hence this package).
  */
object CacheProbe {

  /** Entries in the session's (shared) CacheManager. */
  def cachedEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries

  /** Ids of the RDDs with a storage level (caches and local
    * checkpoints), copied out: a `keySet` view of `getPersistentRDDs`
    * would keep every RDD in it strongly reachable.
    */
  def persistentRddIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Whether `df` itself is a CacheManager entry. */
  def isCached(df: DataFrame): Boolean =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  /** Whether a stage writes shuffle output (a shuffle map stage). */
  def isShuffleMapStage(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
