package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans around the benchmark's calls into the program's
  * layers. Disabled, `span` is a plain call. Spans are written out once,
  * when the run ends.
  */
final class Tracer {
  var enabled = false
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time of a span: its duration minus the part of it that its
    * child spans cover (children of one span never overlap: the
    * benchmark calls the layers from one thread).
    */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> ((s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L))).toMap
  }

  def toJsonLines: String = {
    val self = selfNs
    spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "op" -> s.op.toString, "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ns" -> self(s.id).toString))
    }.mkString("", "\n", "\n")
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)
}

/** Task-level counters of one operation, from Spark's listener events. */
final case class ExecStats(
    jobs: Int, stages: Int, tasks: Int, waves: Double,
    taskMsP50: Double, taskMsMax: Double, taskCpuMs: Double, schedDelayMs: Double, gcMs: Double,
    inputBytes: Long, inputRecords: Long, shuffleWriteBytes: Long, spillBytes: Long,
    commitMs: Double) {

  def fields: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"), ("waves", waves, "tasks/core"),
    ("task_ms_p50", taskMsP50, "ms"), ("task_ms_max", taskMsMax, "ms"),
    ("task_cpu_ms", taskCpuMs, "ms"), ("sched_delay_ms", schedDelayMs, "ms"),
    ("gc_ms", gcMs, "ms"), ("input_bytes", inputBytes.toDouble, "bytes"),
    ("input_records", inputRecords.toDouble, "count"),
    ("shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("spill_bytes", spillBytes.toDouble, "bytes"))
}

object ExecStats {
  /** Median of each field over several operations of one kind. */
  def median(xs: Seq[ExecStats]): Map[String, (Double, String)] =
    xs.head.fields.indices.map { i =>
      val (name, _, unit) = xs.head.fields(i)
      name -> (Stats.median(xs.map(_.fields(i)._2)), unit)
    }.toMap
}

/** A [[SparkListener]] that keeps every task's metrics by the job group
  * of the operation that ran it. Only registered in traced runs.
  */
final class ExecListener(cores: Int) extends SparkListener {
  import ExecListener.TaskRec

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobsByGroup = new ConcurrentHashMap[String, Integer]()
  private val jobEnd = new ConcurrentHashMap[String, java.lang.Long]()
  private val jobGroupOf = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[TaskRec]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroupOf.put(e.jobId, g)
    jobsByGroup.merge(g, 1, (a, b) => a + b)
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroupOf.getOrDefault(e.jobId, "")
    jobEnd.merge(g, e.time, (a, b) => math.max(a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    val info = e.taskInfo
    val dur = info.finishTime - info.launchTime
    val rec = TaskRec(e.stageId, dur, m.executorRunTime, m.executorCpuTime,
      math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime),
      m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, info.finishTime)
    tasks.computeIfAbsent(g, _ => new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()).add(rec)
  }

  /** Waits until the listener bus has delivered every event of the jobs
    * run so far: a marker job is submitted last, and events arrive in
    * order, so its job end comes after all of theirs.
    */
  private var markers = 0
  def drain(spark: SparkSession): Unit = {
    markers += 1
    val g = s"marker-$markers"
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!jobEnd.containsKey(g) && System.nanoTime() < deadline) Thread.sleep(1)
    require(jobEnd.containsKey(g), "listener bus did not deliver the marker job")
  }

  /** The counters of the operations run under `groups`, summed. */
  def stats(groups: Seq[String]): ExecStats = {
    val recs = groups.flatMap(g => Option(tasks.get(g)).map(_.asScala.toSeq).getOrElse(Nil))
    val durs = recs.map(_.durMs.toDouble)
    val byStage = recs.groupBy(_.stage)
    val lastTask = if (recs.isEmpty) 0L else recs.map(_.finish).max
    val ends = groups.flatMap(g => Option(jobEnd.get(g)).map(_.longValue))
    ExecStats(
      jobs = groups.map(g => Option(jobsByGroup.get(g)).map(_.intValue).getOrElse(0)).sum,
      stages = byStage.size,
      tasks = recs.size,
      waves = if (byStage.isEmpty) 0.0 else byStage.values.map(_.size.toDouble / cores).max,
      taskMsP50 = if (durs.isEmpty) 0.0 else Stats.median(durs),
      taskMsMax = if (durs.isEmpty) 0.0 else durs.max,
      taskCpuMs = recs.map(_.cpuNs).sum / 1e6,
      schedDelayMs = recs.map(_.overheadMs).sum.toDouble,
      gcMs = recs.map(_.gcMs).sum.toDouble,
      inputBytes = recs.map(_.inBytes).sum,
      inputRecords = recs.map(_.inRecords).sum,
      shuffleWriteBytes = recs.map(_.shuffleW).sum,
      spillBytes = recs.map(_.spill).sum,
      commitMs = if (ends.isEmpty || recs.isEmpty) 0.0 else math.max(0L, ends.max - lastTask).toDouble)
  }

  /** Sum of executor run time (ms) over the operations' tasks. */
  def runMs(groups: Seq[String]): Double =
    groups.flatMap(g => Option(tasks.get(g)).map(_.asScala.toSeq).getOrElse(Nil)).map(_.runMs).sum.toDouble
}

object ExecListener {
  private final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
      overheadMs: Long, gcMs: Long, inBytes: Long, inRecords: Long, shuffleW: Long,
      spill: Long, finish: Long)
}
