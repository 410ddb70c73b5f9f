package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Settings of one benchmark process, parsed from `--key value` pairs. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,       // per-run scratch root inside the checkout
    inputs: String,     // generated-input cache root inside the checkout
    source: String,      // the tables the scan and ingest inputs are made from
    copies: Int,         // their replicas (10 x sf0.1 = sf1)
    querySource: String, // the tables the query-mix inputs are made from (one replica)
    cores: Int,
    corrupt: Boolean,   // corrupt every expected result (checks must fail)
    out: String)

object Config {
  def parse(argv: Array[String]): Config = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      work = get("work"),
      inputs = get("inputs"),
      source = get("source"),
      copies = get("copies").toInt,
      querySource = get("query-source"),
      cores = get("cores").toInt,
      corrupt = m.getOrElse("corrupt", "0") == "1",
      out = get("out"))
  }
}

/** State of one benchmark process: the session, the checks and the
  * reported figures. Every check counts one attempted operation.
  */
final class Ctx(val spark: SparkSession, val cfg: Config) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String] // raw JSON values
  var attempted = 0L
  var failed = 0L
  val tracer = new Tracer
  var listener: ExecListener = _
  private var opSeq = 0

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      Log(s"CHECK FAILED: $what")
    }
    ok
  }

  /** Runs `body` as one operation: a Spark job group (so the listener can
    * attribute tasks to it when tracing) and a span. An exception yields
    * None, which the caller's check counts as a failure. Unless
    * `collectFirst` is false, a full collection first gives the operation
    * an empty heap: without it, an operation pays for the garbage of the
    * one before it, which makes its time depend on the order of
    * operations.
    */
  def op[T](name: String, collectFirst: Boolean = true)(body: => T): (Option[T], Double, String) = {
    opSeq += 1
    val group = s"op-$opSeq-$name"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    if (collectFirst) System.gc()
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(name, opSeq)(body))
      catch {
        case e: Throwable =>
          Log(s"operation $name threw: $e")
          None
      } finally sc.clearJobGroup()
    val sec = (System.nanoTime() - t0) / 1e9
    if (listener != null) listener.drain(spark)
    (r, sec, group)
  }

  def currentOp: Int = opSeq
}

object Log {
  def apply(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Runs `body`, then logs how long it took. */
  def timed[T](what: String)(body: => T): T = {
    val (r, s) = Stats.secs(body)
    apply(f"$what: $s%.1f s")
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Session {
  def start(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      // the program's oracle-gate settings: key-grouped planning over
      // partitioned btr tables and the partition-key ordering it keeps
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Order-insensitive digest of a result: the multiset of its rows'
  * string forms, so two engines' equal answers compare equal whatever
  * order their partitions arrive in.
  */
object Digest {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Row count and `sum(hash(*))` of a table: the equality check of
    * full-width scans and of written tables.
    */
  def countHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => s"`$c`").mkString(", ")
    val r = df.selectExpr("count(1)", s"coalesce(sum(cast(hash($cols) as bigint)), 0)").head()
    (r.getLong(0), r.getLong(1))
  }
}

object Files2 {
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmrf)
    f.delete()
  }

  /** Bytes of the regular files under `dir`, hidden and marker files excluded. */
  def dataBytes(dir: File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(dataBytes).sum

  def write(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
