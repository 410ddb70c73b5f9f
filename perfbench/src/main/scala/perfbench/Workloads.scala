package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** One timed (or checked) operation of a pass. `kind` says what it is
  * for: "btr" (the workload's measured btr operation), "parquet" (the
  * same-run Parquet control), "check" (an untimed correctness read).
  */
final case class OpRec(name: String, kind: String, secs: Double, planMs: Double, group: String)

/** A workload: set-up work, then passes of operations run one at a time
  * by one client (a closed loop), every output checked.
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark = ctx.spark
  protected def cfg = ctx.cfg

  /** The set-up work repeated for the `setup_s` median (btr writes the
    * workload reads); the last repetition's output is what is measured.
    */
  def prepare(): Unit

  def pass(p: Int): Seq[OpRec]

  /** Untimed work after the set-up writes, while the JIT compiles the loop:
    * by default one pass.
    */
  def warmUp(): Unit = pass(-1)

  /** Timed passes a run makes even when they outlast `--seconds`. */
  def minPasses: Int = 1

  /** The order of the two formats for operation `i` of pass `p`. It
    * alternates within a pass and between passes, and the seed shifts it,
    * so over a set of seeds each format goes first equally often.
    */
  protected def formatOrder(p: Int, i: Int): Seq[String] =
    if (java.lang.Math.floorMod(cfg.seed + p + i, 2L) == 0) Seq("btr", "parquet") else Seq("parquet", "btr")

  /** Seconds of a pass that count as its time: its btr operations. */
  def passSecs(ops: Seq[OpRec]): Double = ops.filter(_.kind == "btr").map(_.secs).sum

  def endToEnd(passes: Seq[Seq[OpRec]]): Unit

  /** Per-layer metrics from the traced passes. */
  def layers(passes: Seq[Seq[OpRec]]): Unit

  /** Collects `df`; when tracing, first forces and times its physical
    * plan (Catalyst, the program's extensions and scan planning).
    */
  protected def collect(df: DataFrame): (Array[Row], Double) =
    if (!ctx.tracer.enabled) (df.collect(), 0.0)
    else {
      val op = ctx.currentOp
      val (_, planS) = Stats.secs(ctx.tracer.span("plans.executedPlan", op)(df.queryExecution.executedPlan))
      (ctx.tracer.span("exec.collect", op)(df.collect()), planS * 1e3)
    }

  protected def medianOf(passes: Seq[Seq[OpRec]], name: String): Double =
    Stats.median(passes.flatMap(_.filter(_.name == name).map(_.secs)))

  protected def execMetrics(passes: Seq[Seq[OpRec]], prefix: String, pick: OpRec => Boolean): Unit =
    ExecStats.median(passes.map(ops => ctx.listener.stats(ops.filter(pick).map(_.group))))
      .foreach { case (k, (v, u)) => ctx.metric(s"$prefix.$k", v, u) }

  protected def planMetrics(passes: Seq[Seq[OpRec]]): Unit = {
    val plan = passes.map(_.filter(_.kind == "btr").map(_.planMs).sum)
    ctx.metric("plans.plan_ms", Stats.median(plan), "ms")
    ctx.metric("plans.exec_ms", Stats.median(passes.zip(plan).map { case (ops, pm) =>
      passSecs(ops) * 1e3 - pm
    }), "ms")
  }

  /** Splits the full-width btr scan of `btrDir` (operations `name`) into
    * shares of the cores' time over its wall time: codec decode, the
    * reader's fill of Spark vectors, the consumer and everything else in
    * the tasks, and time with no task running (scheduling, planning,
    * idle cores). Needs the format and reader layers measured first.
    */
  protected def scanSplit(passes: Seq[Seq[OpRec]], name: String, rows: Long): Unit = {
    val ops = passes.flatMap(_.filter(_.name == name))
    val wallNs = Stats.median(ops.map(_.secs)) * 1e9 * cfg.cores
    val runNs = Stats.median(ops.map(o => ctx.listener.runMs(Seq(o.group)))) * 1e6
    val decodeNs = ctx.info("format.decode_ns_total").toDouble
    val readerNs = ctx.metrics("sources.reader_ns_per_row")._1 * rows
    ctx.metric("scan_split.format_share", decodeNs / wallNs, "ratio")
    ctx.metric("scan_split.fill_share", (readerNs - decodeNs) / wallNs, "ratio")
    ctx.metric("scan_split.consumer_share", (runNs - readerNs) / wallNs, "ratio")
    ctx.metric("scan_split.exec_share", 1.0 - runNs / wallNs, "ratio")
  }

  /** The write layer: one traced btr write of `parquetDir` and a Spark
    * Parquet write of the same rows (written under `work`, then removed).
    */
  protected def writerLayer(parquetDir: String, tag: String): Unit = {
    val btr = s"${cfg.work}/layers/$tag.btr"
    val pq = s"${cfg.work}/layers/$tag.parquet"
    val (_, _, g) = ctx.op(s"layers.write.btr.$tag")(spark.read.parquet(parquetDir).write.format("btr").mode("overwrite").save(btr))
    val (_, _, gp) = ctx.op(s"layers.write.parquet.$tag")(spark.read.parquet(parquetDir).write.parquet(pq))
    writerMetrics(g, gp, btr)
    Files2.rmrf(new File(s"${cfg.work}/layers"))
  }

  protected def writerMetrics(btrGroup: String, pqGroup: String, btrDir: String): Unit = {
    val s = ctx.listener.stats(Seq(btrGroup))
    ctx.metric("sources.write_task_ms_p50", s.taskMsP50, "ms")
    ctx.metric("sources.write_task_ms_max", s.taskMsMax, "ms")
    ctx.metric("sources.commit_ms", s.commitMs, "ms")
    ctx.metric("sources.files",
      new File(btrDir).listFiles().count(f => f.getName.endsWith(".btr")).toDouble, "count")
    ctx.metric("sources.stored_bytes", Files2.dataBytes(new File(btrDir)).toDouble, "bytes")
    ctx.metric("parquet.write_task_ms_p50", ctx.listener.stats(Seq(pqGroup)).taskMsP50, "ms")
  }

  /** Row count and sum(hash(*)) as a check value; corrupted on request. */
  protected def expect(v: (Long, Long)): (Long, Long) = if (cfg.corrupt) (v._1, v._2 + 1) else v

  /** Records the generated inputs (seed, rows, bytes) next to the metrics. */
  protected def recordInputs(infos: Map[String, Inputs.TableInfo]): Unit = {
    ctx.info("seed") = cfg.seed.toString
    infos.foreach { case (t, i) =>
      ctx.info(s"input.$t") = Json.obj(Seq("rows" -> i.rows.toString, "files" -> i.files.toString,
        "stored_bytes" -> i.storedBytes.toString, "decoded_bytes" -> i.decodedBytes.toString))
    }
  }

  protected def btrBytesPerRaw(dirs: Seq[String], decoded: Long): Double =
    dirs.map(d => Files2.dataBytes(new File(d))).sum.toDouble / decoded
}

/** `scan`: sf1 lineitem read over btr and over Parquet, interleaved. */
final class ScanWorkload(c: Ctx) extends Workload(c) {
  private val info = Inputs.ensure(spark, cfg, cfg.source, cfg.copies, Seq("lineitem"))("lineitem")
  recordInputs(Map("lineitem" -> info))
  val parquet = s"${Inputs.dir(cfg, cfg.source, cfg.copies)}/lineitem.parquet"
  val btr = s"${cfg.work}/scan/lineitem.btr"
  // one column each of long, double, timestamp and string
  val narrow = Seq("l_orderkey", "l_extendedprice", "l_shipdate", "l_returnflag")
  private val kinds = "full" +: narrow
  // the JIT is still compiling Spark's per-query code, and the pass times
  // keep falling for a minute or more: two warm-up passes take the
  // steepest part out of the timed ones
  override def warmUp(): Unit = Seq(-2, -1).foreach(pass)
  // the first timed pass often runs slower still: a median of three leaves
  // it out, also when the box is slow and fewer passes fit the window
  override def minPasses: Int = 3

  def prepare(): Unit = {
    Files2.rmrf(new File(btr))
    val (r, _, _) = ctx.op("setup.write.lineitem")(spark.read.parquet(parquet).write.format("btr").mode("overwrite").save(btr))
    require(r.isDefined, "set-up write of lineitem failed")
  }

  private def table(fmt: String): DataFrame =
    if (fmt == "btr") spark.read.format("btr").load(btr) else spark.read.parquet(parquet)

  /** `count(1)` and `sum(hash(cols))` of a scan (all columns for "full"). */
  private def countHashOf(df: DataFrame, kind: String): DataFrame = {
    val cols = if (kind == "full") df.columns.toSeq else Seq(kind)
    df.selectExpr("count(1)", s"coalesce(sum(cast(hash(${cols.map(c => s"`$c`").mkString(", ")}) as bigint)), 0)")
  }

  /** The narrow btr scans' expected results, from one Parquet scan of the
    * same rows in the warm-up (set-up): the row count and each column's
    * `sum(hash(col))`. None if that scan failed, which fails every narrow
    * check.
    */
  private lazy val narrowExpected: Option[Map[String, (Long, Long)]] =
    ctx.op("parquet.narrow.expected") {
      val r = spark.read.parquet(parquet).selectExpr("count(1)" +: narrow.map(c =>
        s"coalesce(sum(cast(hash(`$c`) as bigint)), 0)"): _*).head()
      narrow.zipWithIndex.map { case (c, i) => c -> (r.getLong(0), r.getLong(i + 1)) }.toMap
    }._1

  private def scan(fmt: String, kind: String): (Option[(Long, Long)], OpRec) = {
    var planMs = 0.0
    // a scan leaves little garbage: no collection before it (see Ctx.op)
    val (r, secs, g) = ctx.op(s"$fmt.$kind", collectFirst = false) {
      val (rows, pm) = collect(countHashOf(table(fmt), kind))
      planMs = pm
      (rows.head.getLong(0), rows.head.getLong(1))
    }
    (r, OpRec(s"$fmt.$kind", if (fmt == "btr") "btr" else "parquet", secs, planMs, g))
  }

  /** A pass: the full-width scan over both formats (their order alternates
    * and the seed shifts it), checked against each other, then the narrow
    * btr scans, each checked against the set-up Parquet result. Only the
    * full-width scan has a Parquet control in every pass: `vs_parquet` is
    * defined on it, and a narrow Parquet control would cost a third of a
    * pass without entering a metric.
    */
  def pass(p: Int): Seq[OpRec] = {
    val order = formatOrder(p, 0)
    val full = order.map(f => f -> scan(f, "full")).toMap
    val expected = full("parquet")._1.map(expect)
    ctx.check(expected.isDefined, "parquet full scan failed")
    ctx.check(full("btr")._1.isDefined && full("btr")._1 == expected,
      s"btr full scan ${full("btr")._1} != parquet $expected")
    order.map(full(_)._2) ++ narrow.map { k =>
      val (r, rec) = scan("btr", k)
      val want = narrowExpected.map(m => expect(m(k)))
      ctx.check(want.isDefined && r == want, s"btr $k scan $r != parquet $want")
      rec
    }
  }

  def endToEnd(passes: Seq[Seq[OpRec]]): Unit = {
    ctx.metric("pass_s", Stats.median(passes.map(passSecs)), "s")
    ctx.metric("geomean_op_s", Stats.geomean(kinds.map(k => medianOf(passes, s"btr.$k"))), "s")
    ctx.metric("rows_per_s", info.rows / medianOf(passes, "btr.full"), "1/s")
    ctx.metric("vs_parquet", Stats.median(passes.map { ops =>
      ops.find(_.name == "btr.full").get.secs / ops.find(_.name == "parquet.full").get.secs
    }), "ratio")
    ctx.metric("stored_bytes_per_raw_byte", btrBytesPerRaw(Seq(btr), info.decodedBytes), "ratio")
    narrow.foreach(n => ctx.info(s"narrow_rows_per_s.$n") = Json.num(info.rows / medianOf(passes, s"btr.$n")))
  }

  def layers(passes: Seq[Seq[OpRec]]): Unit = {
    execMetrics(passes, "exec", _.name == "btr.full")
    execMetrics(passes, "parquet.exec", _.name == "parquet.full")
    planMetrics(passes)
    Log.timed("Layers.format")(Layers.format(ctx, btr))
    Log.timed("Layers.reader")(Layers.reader(ctx, btr, parquet, narrow))
    Log.timed("Layers.schemes")(Layers.schemes(ctx, btr))
    scanSplit(passes, "btr.full", info.rows)
    Log.timed("writerLayer")(writerLayer(parquet, "lineitem"))
  }
}

/** `ingest`: sf0.5 lineitem and orders converted from Parquet to btr under
  * the default selection, next to a Spark Parquet write of the same rows.
  */
final class IngestWorkload(c: Ctx) extends Workload(c) {
  private val tables = Seq("lineitem", "orders")
  // half of the scan's replicas: at sf1 a pass took 12 s, so a run of
  // three passes would not fit the benchmark's time budget, and with two
  // the first, slower one decided half of every figure
  private val copies = math.min(cfg.copies, IngestWorkload.MaxCopies)
  private val infos = Inputs.ensure(spark, cfg, cfg.source, copies, tables)
  recordInputs(infos)
  private def src(t: String) = s"${Inputs.dir(cfg, cfg.source, copies)}/$t.parquet"
  private def out(t: String, fmt: String, p: Int) = s"${cfg.work}/ingest/$p/$t.$fmt"
  // written-table check values of each source, from its generation
  private val expected = tables.map(t => t -> (infos(t).rows, infos(t).hashSum)).toMap
  private var lastPass = -1
  // the set-up below warms the writers up instead of a warm-up pass
  override def warmUp(): Unit = ()
  // the first timed pass still runs slower: a median of three leaves it out
  override def minPasses: Int = 3

  /** Writes lineitem to btr and a tenth of each table, sampled across all
    * its files, to Parquet, while the JIT compiles both writers. The btr
    * writer needs a full-size write: after sampled ones only, the first
    * timed btr writes ran up to 50% slower than the second.
    */
  def prepare(): Unit = {
    val warm = s"${cfg.work}/ingest/warm"
    val (w, _, _) = ctx.op("setup.write.btr.lineitem")(
      spark.read.parquet(src("lineitem")).write.format("btr").mode("overwrite").save(s"$warm/lineitem.btr"))
    require(w.isDefined, "set-up write of lineitem to btr failed")
    tables.foreach { t =>
      val (p, _, _) = ctx.op(s"setup.write.parquet.$t")(spark.read.parquet(src(t))
        .sample(withReplacement = false, 0.1, cfg.seed).write.mode("overwrite").parquet(s"$warm/$t.parquet"))
      require(p.isDefined, s"set-up write of $t to Parquet failed")
    }
    Files2.rmrf(new File(warm))
  }

  private def write(t: String, fmt: String, p: Int): Seq[OpRec] = {
    var planMs = 0.0
    val dir = out(t, fmt, p)
    val (r, secs, g) = ctx.op(s"$fmt.write.$t") {
      val df = spark.read.parquet(src(t))
      if (ctx.tracer.enabled) {
        val (_, s) = Stats.secs(ctx.tracer.span("plans.executedPlan", ctx.currentOp)(df.queryExecution.executedPlan))
        planMs = s * 1e3
      }
      ctx.tracer.span("sources.write", ctx.currentOp) {
        if (fmt == "btr") df.write.format("btr").mode("overwrite").save(dir) else df.write.parquet(dir)
      }
    }
    val rec = OpRec(s"$fmt.write.$t", if (fmt == "btr") "btr" else "parquet", secs, planMs, g)
    if (fmt == "parquet") {
      // the control is Spark's own writer: it fails only by throwing
      ctx.check(r.isDefined, s"parquet write of $t failed")
      Seq(rec)
    } else {
      // the written btr table must hold the source's rows
      val (got, cs, cg) = ctx.op(s"check.btr.$t")(Digest.countHash(spark.read.format("btr").load(dir)))
      ctx.check(r.isDefined && got.contains(expect(expected(t))),
        s"btr write of $t: read back $got, expected ${expect(expected(t))}")
      Seq(rec, OpRec(s"check.btr.$t", "check", cs, 0.0, cg))
    }
  }

  def pass(p: Int): Seq[OpRec] = {
    if (lastPass >= 0) Files2.rmrf(new File(s"${cfg.work}/ingest/$lastPass"))
    lastPass = p
    tables.zipWithIndex.flatMap { case (t, i) =>
      formatOrder(p, i).flatMap(write(t, _, p))
    }
  }

  private def btrDirs = tables.map(out(_, "btr", lastPass))

  def endToEnd(passes: Seq[Seq[OpRec]]): Unit = {
    val passS = Stats.median(passes.map(passSecs))
    ctx.metric("pass_s", passS, "s")
    ctx.metric("geomean_op_s", Stats.geomean(tables.map(t => medianOf(passes, s"btr.write.$t"))), "s")
    ctx.metric("rows_per_s", tables.map(infos(_).rows).sum / passS, "1/s")
    ctx.metric("vs_parquet",
      passes.map(passSecs).sum / passes.flatten.filter(_.kind == "parquet").map(_.secs).sum, "ratio")
    ctx.metric("stored_bytes_per_raw_byte", btrBytesPerRaw(btrDirs, tables.map(infos(_).decodedBytes).sum), "ratio")
  }

  def layers(passes: Seq[Seq[OpRec]]): Unit = {
    execMetrics(passes, "exec", _.name == "btr.write.lineitem")
    execMetrics(passes, "parquet.exec", _.name == "parquet.write.lineitem")
    planMetrics(passes)
    val li = out("lineitem", "btr", lastPass)
    Log.timed("Layers.format")(Layers.format(ctx, li))
    Log.timed("Layers.reader")(Layers.reader(ctx, li, src("lineitem"), Seq("l_orderkey", "l_extendedprice", "l_shipdate", "l_returnflag")))
    Log.timed("Layers.schemes")(Layers.schemes(ctx, li))
    scanSplit(passes, "check.btr.lineitem", infos("lineitem").rows)
    val last = passes.last
    writerMetrics(last.find(_.name == "btr.write.lineitem").get.group,
      last.find(_.name == "parquet.write.lineitem").get.group, li)
  }
}

object IngestWorkload {
  /** Replicas of the source: 5 makes sf0.5. */
  val MaxCopies: Int = 5
}

/** `query`: a fixed mix of `graft.SparkEntry.queries` over btr tables
  * written this run, each result checked against its DuckDB oracle.
  */
final class QueryWorkload(c: Ctx) extends Workload(c) {
  import QueryWorkload._
  private val infos = Inputs.ensure(spark, cfg, cfg.querySource, Copies, Tables)
  if (cfg.workload == "query") recordInputs(infos)
  val d: String = Inputs.dir(cfg, cfg.querySource, Copies)
  private val fns = graft.SparkEntry.queries
  // the first result of each query: written out for the oracle check,
  // later results must equal it
  private val firstDigest = mutable.Map.empty[String, String]
  val opsPerQuery: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val liBtr = graft.Btr.cachePath(d, "lineitem")
  private lazy val controlExpected = Digest.countHash(spark.read.parquet(s"$d/lineitem.parquet"))

  /** The program's btr cache root for this input, removed so every run
    * writes its tables afresh.
    */
  def cacheRoot: File = new File(graft.Btr.cachePath(d, "x")).getParentFile

  def prepare(): Unit = {
    Files2.rmrf(cacheRoot)
    Tables.foreach { t =>
      val (r, _, _) = ctx.op(s"setup.write.$t")(graft.Btr.t(spark, d, t))
      require(r.isDefined, s"set-up write of $t failed")
    }
  }

  private def query(q: String): OpRec = {
    var planMs = 0.0
    val (r, secs, g) = ctx.op(s"query.$q") {
      val df = ctx.tracer.span("functions.build", ctx.currentOp)(fns(q)(spark, d))
      val (rows, pm) = collect(df)
      planMs = pm
      (rows, df.schema)
    }
    opsPerQuery(q) += 1
    r match {
      case None => ctx.check(ok = false, s"$q threw")
      case Some((rows, schema)) =>
        val dg = Digest.of(rows)
        firstDigest.get(q) match {
          case Some(first) => ctx.check(dg == first, s"$q result differs from its first result")
          case None =>
            firstDigest(q) = dg
            ctx.attempted += 1 // checked against the oracle after the run
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
              .write.parquet(s"${cfg.work}/oracle/$q")
        }
    }
    OpRec(s"query.$q", "btr", secs, planMs, g)
  }

  private def control(fmt: String): (Option[(Long, Long)], OpRec) = {
    val (r, secs, g) = ctx.op(s"$fmt.lineitem") {
      Digest.countHash(if (fmt == "btr") spark.read.format("btr").load(liBtr)
        else spark.read.parquet(s"$d/lineitem.parquet"))
    }
    (r, OpRec(s"$fmt.lineitem", if (fmt == "btr") "control" else "parquet", secs, 0.0, g))
  }

  def pass(p: Int): Seq[OpRec] = {
    val qs = Mix.map(query)
    val order = formatOrder(p, 0)
    val res = order.map(f => f -> control(f)).toMap
    ctx.check(res("parquet")._1.isDefined, "parquet lineitem scan failed")
    ctx.check(res("btr")._1 == Some(expect(controlExpected)),
      s"btr lineitem scan ${res("btr")._1} != ${expect(controlExpected)}")
    qs ++ order.map(res(_)._2)
  }

  def endToEnd(passes: Seq[Seq[OpRec]]): Unit = {
    ctx.metric("pass_s", Stats.median(passes.map(passSecs)), "s")
    ctx.metric("geomean_op_s", Stats.geomean(Mix.map(q => medianOf(passes, s"query.$q"))), "s")
    Mix.foreach(q => ctx.info(s"query_s.$q") = Json.num(medianOf(passes, s"query.$q")))
    ctx.metric("rows_per_s", infos("lineitem").rows / medianOf(passes, "btr.lineitem"), "1/s")
    ctx.metric("vs_parquet", Stats.median(passes.map { ops =>
      ops.find(_.name == "btr.lineitem").get.secs / ops.find(_.name == "parquet.lineitem").get.secs
    }), "ratio")
    ctx.metric("stored_bytes_per_raw_byte",
      btrBytesPerRaw(Tables.map(graft.Btr.cachePath(d, _)), Tables.map(infos(_).decodedBytes).sum), "ratio")
  }

  /** The functions layer: per query time, tasks, shuffle bytes and plan time. */
  def queryMetrics(passes: Seq[Seq[OpRec]]): Unit = Mix.foreach { q =>
    val ops = passes.flatMap(_.filter(_.name == s"query.$q"))
    val st = ops.map(o => ctx.listener.stats(Seq(o.group)))
    ctx.metric(s"query.$q.s", Stats.median(ops.map(_.secs)), "s")
    ctx.metric(s"query.$q.plan_ms", Stats.median(ops.map(_.planMs)), "ms")
    ctx.metric(s"query.$q.tasks", Stats.median(st.map(_.tasks.toDouble)), "count")
    ctx.metric(s"query.$q.shuffle_bytes", Stats.median(st.map(_.shuffleWriteBytes.toDouble)), "bytes")
  }

  def layers(passes: Seq[Seq[OpRec]]): Unit = {
    execMetrics(passes, "exec", _.kind == "btr")
    execMetrics(passes, "parquet.exec", _.name == "parquet.lineitem")
    planMetrics(passes)
    queryMetrics(passes)
    Log.timed("Layers.format")(Layers.format(ctx, liBtr))
    Log.timed("Layers.reader")(Layers.reader(ctx, liBtr, s"$d/lineitem.parquet", Seq("l_orderkey", "l_extendedprice", "l_shipdate", "l_returnflag")))
    Log.timed("Layers.schemes")(Layers.schemes(ctx, liBtr))
    scanSplit(passes, "btr.lineitem", infos("lineitem").rows)
    Log.timed("writerLayer")(writerLayer(s"$d/lineitem.parquet", "lineitem"))
  }

  /** Oracle SQL of the checked queries, for the DuckDB check after the run. */
  def oracleJson: String = Json.obj(Mix.map { q =>
    q -> Json.obj(Seq("sql" -> Json.str(graft.SparkEntry.oracleSql(q)), "ops" -> opsPerQuery(q).toString,
      "result" -> Json.str(s"${cfg.work}/oracle/$q")))
  } :+ ("_tables" -> Json.obj(Tables.map(t => t -> Json.str(s"$d/$t.parquet")))))
}

object QueryWorkload {
  /** Replicas of the query source: one, as the mix is overhead-bound. */
  val Copies: Int = 1
  val Mix: Seq[String] = Seq(
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q6", "q_tpch_q9", "q_tpch_q14", "q_tpch_q18",
    "q_point_lookup", "q_rt_filter",
    "q_text_keywords", "q_ann_ivf_serve", "q_dedup_minhash")
  val Tables: Seq[String] = Seq(
    "lineitem", "orders", "customer", "part", "supplier", "nation", "documents", "embeddings")
}
