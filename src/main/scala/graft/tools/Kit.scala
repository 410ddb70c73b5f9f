package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing of the `graft.tools` kit: the one session every tool
  * runs in, the wall-clock timers, and the "print JSON lines, optionally
  * write them to out.json" tail.
  *
  * Session rule: `local[SPARK_GRAFT_CPUS]`, else `local[<available
  * processors>]`, with as many shuffle partitions as threads, a UTC
  * session time zone and the `graft` btr catalog registered.
  */
object Kit {
  /** Local threads of a graft session: `SPARK_GRAFT_CPUS`, else the
    * available processors.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Run a tool's body in the kit's session and stop the session after it. */
  def withSession[T](app: String)(body: SparkSession => T): T = {
    val cpus = Kit.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // parquet TIMESTAMP(NANOS) columns read as raw nanos-since-epoch
      // longs instead of failing the read
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Fastest of `reps` timed runs. */
  def minSecs(reps: Int)(body: => Unit): Double = (1 to reps).map(_ => secs(body)).min

  /** Evaluate every row of `df` into Spark's no-op sink. */
  def drain(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Drain once to warm (codegen, centroid and file caches), then time the
    * fastest of `reps` drains, each of a freshly built plan.
    */
  def warmMinSecs(df: => DataFrame, reps: Int = 3): Double = {
    drain(df)
    minSecs(reps)(drain(df))
  }

  def freshDir(path: String): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    path
  }

  /** JSON lines a tool prints as it produces them and keeps for [[save]]. */
  final class Lines {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def +=(line: String): Unit = { println(line); buf += line }
    def toSeq: Seq[String] = buf.toSeq
  }

  /** Write `lines` to `path`, one per line. */
  def save(path: String, lines: Seq[String]): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(path))
    try lines.foreach(w.println) finally w.close()
  }
}
