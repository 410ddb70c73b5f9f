package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic: time named battery queries standalone (min of 3 reps)
  * against a given sf dir, without the bench's extras sections.
  * Run: Test/runMain graft.TimeOne <sfDir> <q1> [q2 ...]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = graft.tools.Kit.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("time-one")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-24s min=${times.min}%.3f runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
