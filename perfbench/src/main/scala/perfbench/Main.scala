package perfbench

import java.io.File

import scala.collection.mutable

/** The benchmark process: generates the inputs for `--seed`, sets the
  * workload up, runs it as a closed loop (one client, one operation at a
  * time) for `--seconds`, checks every output and writes the figures to
  * `--out` as JSON. `perfbench/run.py` builds and launches it, and runs
  * the DuckDB oracle checks of the query results afterwards.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced, it
  * runs the loop twice, untraced then traced (a Spark listener, spans,
  * forced plans), reports the difference as the tracing overhead, and
  * measures the layers below on the workload's own files.
  */
object Main {
  /** Repetitions of the set-up work in an untraced run; `setup_s` takes their median. */
  private val SetupReps = 2

  def main(argv: Array[String]): Unit = {
    val cfg = Config.parse(argv)
    new File(cfg.work).mkdirs()
    val (spark, sessionS) = Stats.secs(Session.start(cfg))
    val ctx = new Ctx(spark, cfg)
    var probe: QueryWorkload = null
    try {
      val w: Workload = cfg.workload match {
        case "scan" => new ScanWorkload(ctx)
        case "ingest" => new IngestWorkload(ctx)
        case "query" => new QueryWorkload(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      // set-up: the workload's prepare step (repeated, median kept) and
      // its warm-up
      // (traced runs report no set-up time, so they set up once)
      val prepS = (1 to (if (cfg.trace) 1 else SetupReps)).map(_ => Stats.secs(w.prepare())._2)
      val (_, warmS) = Stats.secs(w.warmUp())
      ctx.metric("setup_s", sessionS + Stats.median(prepS) + warmS, "s")
      Log(f"setup: session $sessionS%.2f s, prepare ${prepS.map(s => f"$s%.2f").mkString("/")} s, warm-up $warmS%.2f s")

      // traced, passes alternate between traced and untraced, so both
      // kinds see the same JIT and machine state
      val listener = new ExecListener(cfg.cores)
      def setTracing(on: Boolean): Unit = {
        if (on) spark.sparkContext.addSparkListener(listener)
        else spark.sparkContext.removeSparkListener(listener)
        ctx.listener = if (on) listener else null
        ctx.tracer.enabled = on
      }
      val gc0 = Layers.gcMs
      val all = Log.timed("loop")(loop(cfg.seconds, math.max(w.minPasses, if (cfg.trace) 2 else 1)) { p =>
        val traced = cfg.trace && p % 2 == 1
        if (!traced) (false, w.pass(p))
        else {
          setTracing(true)
          try (true, ctx.tracer.span("pass", 0)(w.pass(p)))
          finally setTracing(false)
        }
      })
      val gcLoop = Layers.gcMs - gc0
      val passes = all.filterNot(_._1).map(_._2)
      val tracedPasses = all.filter(_._1).map(_._2)
      w.endToEnd(passes)
      ctx.info("passes") = passes.size.toString
      ctx.info("pass_s_all") = passes.map(p => Json.num(w.passSecs(p))).mkString("[", ", ", "]")
      passes.flatten.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ops) =>
        ctx.info(s"op_s.$n") = ops.map(o => f"${o.secs}%.4f").mkString("[", ", ", "]")
      }

      if (cfg.trace) {
        val e2e = ctx.metrics.clone()
        ctx.metrics.clear()
        val base = Stats.median(passes.map(w.passSecs))
        ctx.metric("trace.overhead_share", Stats.median(tracedPasses.map(w.passSecs)) / base - 1.0, "ratio")
        setTracing(true)
        w.layers(tracedPasses)
        w match {
          case _: QueryWorkload => // its layers include the functions layer
          case _ =>
            // the functions layer: the query mix, set up once and run for
            // one traced pass (no warm-up pass: it would double the run)
            probe = Log.timed("query probe set-up")(new QueryWorkload(ctx))
            Log.timed("query probe prepare")(probe.prepare())
            probe.queryMetrics(Seq(Log.timed("query probe pass")(probe.pass(0))))
        }
        ctx.metric("jvm.heap_peak_mb", Layers.heapPeakMb, "MB")
        ctx.metric("jvm.gc_ms", gcLoop, "ms")
        e2e.foreach { case (k, (v, _)) => ctx.info(s"untraced.$k") = Json.num(v) }
        Files2.write(s"${cfg.work}/trace.jsonl", ctx.tracer.toJsonLines)
      }
      val oracle = (w, probe) match {
        case (q: QueryWorkload, _) => q.oracleJson
        case (_, q: QueryWorkload) => q.oracleJson
        case _ => "{}"
      }
      writeResult(ctx, oracle)
      Seq(w, probe).foreach {
        case q: QueryWorkload => Files2.rmrf(q.cacheRoot)
        case _ =>
      }
    } finally spark.stop()
  }

  /** Runs passes until `seconds` have passed, and at least `minPasses`. */
  private def loop[T](seconds: Double, minPasses: Int)(pass: Int => T): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    val t0 = System.nanoTime()
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) out += pass(out.size)
    out.toSeq
  }

  private def writeResult(ctx: Ctx, oracle: String): Unit = {
    val metrics = ctx.metrics.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Files2.write(ctx.cfg.out, Json.obj(Seq(
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics),
      "info" -> Json.obj(ctx.info),
      "oracle" -> oracle)))
  }
}
