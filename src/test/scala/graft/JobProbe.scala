package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Diagnostic: run one battery query and print every Spark job it fires
  * (construction-time driver jobs AND the final noop action) with wall
  * times, so multi-action queries attribute their seconds to named legs.
  * Run: Test/runMain graft.JobProbe <sfDir> <query> [reps]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = graft.tools.Kit.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("job-probe")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties.getProperty("spark.job.description"))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(_.name)) // callsite fallback
          .getOrElse("")
        val stages = js.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '(').trim}#${si.numTasks}").mkString("|")
        starts.put(js.jobId, (System.nanoTime(), s"$desc [$stages]"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null) lines.add(
          f"  job ${je.jobId}%3d ${(System.nanoTime() - s._1) / 1e9}%7.3f s  ${s._2}")
      }
    })
    val fn = SparkEntry.queries(name)
    for (r <- 1 to reps) {
      lines.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      df.write.mode("overwrite").format("noop").save()
      val tTotal = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"== $name rep $r: build=$tBuild%.3f s total=$tTotal%.3f s, jobs:")
      lines.forEach(l => println(l))
    }
    spark.stop()
  }
}
