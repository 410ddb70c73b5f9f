package graft.tools

import graft.functions.{NearestCentersExpr, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file ANN) probe kit. Every mode builds its indexes with
  * [[SimilarityOps.ivfIndexBuild]] and serves through
  * [[SimilarityOps.ivfTopKServe]]; recall is counted against
  * [[SimilarityOps.bruteForceTopK]] or against another layout's serve.
  * Serve times are the fastest of 3 no-op-sink drains after one warm
  * drain ([[Kit.warmMinSecs]]).
  *
  *   runMain graft.tools.IvfProbe <mode> <sfDir> [copies] [out.json] [storage]
  *
  * Modes (default copies 500, `scale` 50; `storage` applies to `scale`):
  *   - `recall`: per planted variant × dim {64, 256}, an f64 and an i8
  *     index over the same corpus; the f64 serve's recall against brute
  *     force, then the i8 serve's latency and recall@10 against the
  *     same-nprobe f64 serve for rerankFactor ∈ {1, 2, 4, 8} — the
  *     quantization and shortlist-depth loss in isolation (cell misses at
  *     a finite nprobe hit both layouts alike and cancel).
  *   - `skew`: per planted variant × dim {64, 256}, the cell-occupancy
  *     histogram, the probed-cell row mass of the 64-query batch at
  *     nprobe 4 (the rows the serving scan ranks) and the serve time, for
  *     the oversized-cell split layout (written to `out.json`) and for the
  *     unsplit control (`out_nosplit.json`).
  *   - `nprobe`: per planted variant at dim 256, builds both layouts and
  *     sweeps nprobe ∈ {4, 6, 8, 12}: recall@10 against brute force and
  *     serve time per point, so layouts compare at equal recall rather
  *     than equal nprobe (a split raises the cell count).
  *   - `scale`: the embeddings corpus replicated copies × {1, 4, 10} with
  *     nlist ∝ corpus (constant cell size), one index per size in
  *     `storage` (f64|f32|i8, default f64): assign-table bytes, build,
  *     serve and brute-force time, then the serve flatness 10×/1×. Serve
  *     I/O is nprobe cells, so serve time should stay flat while brute
  *     force grows with the corpus.
  *   - `heap`: f64, f32 and i8 builds back to back over the replicated
  *     corpus (the sequence that once exhausted an 8 GB bench heap), with
  *     the per-build peak heap (sampled every 100 ms), the heap retained
  *     after a full GC (a climb across builds is retention), files per
  *     cell, and one `jcmd GC.class_histogram` the first time usage
  *     crosses 70% of the maximum heap.
  *
  * copies = 500 × the sf0.1 embeddings (2,000 rows) is the 1M-vector
  * setting BASELINE.md quotes; 1M × dim-256 builds want
  * SPARK_DRIVER_MEM=16g.
  */
object IvfProbe {
  val Modes: Seq[String] = Seq("recall", "nprobe", "skew", "scale", "heap")

  private val Base = "/tmp/btr-ivf-probe"
  private val K = 10
  private val NQueries = 64
  private val FitSampleRows = 10000

  /** Planted-cluster variants (name, clusterSize, sigStep), see [[planted]]. */
  private val Variants = Seq(("sep", 20, 0.035), ("graded", 100, 0.006))

  /** Split = the default oversized-cell split; nosplit = the control. */
  private val Layouts = Seq("split", "nosplit")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Modes.contains(args(0)),
      s"usage: IvfProbe <${Modes.mkString("|")}> <sfDir> [copies] [out.json] [storage]")
    val mode = args(0)
    val copies = args.lift(2).map(_.toInt).getOrElse(if (mode == "scale") 50 else 500)
    val storage = args.lift(4).getOrElse("f64")
    val files = Kit.withSession(s"ivf-probe-$mode")(run(_, mode, args(1), copies, storage))
    for (out <- args.lift(3); (suffix, lines) <- files) {
      val stem = out.stripSuffix(".json")
      Kit.save(stem + suffix + out.drop(stem.length), lines)
    }
  }

  /** Runs one mode and returns its artifact lines per output-file suffix:
    * "" is `out.json` itself; `skew` adds "_nosplit" for the control.
    */
  def run(spark: SparkSession, mode: String, sfDir: String, copies: Int,
      storage: String = "f64"): Seq[(String, Seq[String])] = mode match {
    case "recall" => Seq("" -> recall(spark, sfDir, copies))
    case "nprobe" => Seq("" -> nprobeSweep(spark, sfDir, copies))
    case "skew" => Layouts.map(l => (if (l == "split") "" else s"_$l") -> skew(spark, sfDir, copies, l))
    case "scale" => Seq("" -> scale(spark, sfDir, copies, storage))
    case "heap" => Seq("" -> heap(spark, sfDir, copies))
    case other => throw new IllegalArgumentException(s"unknown IvfProbe mode $other")
  }

  /** n DISTINCT deterministic vectors with PLANTED neighbors at staggered
    * radii — the construction recall@k can actually count. Two rejected
    * alternatives, both measured:
    *   - jittered replicas ([[replicas]]) put ~`copies` near-identical
    *     twins around every query whose rounded cosines tie hundreds
    *     deep, so "recall" caps at shortlist/plateau ≈ 0.15 regardless of
    *     quantization;
    *   - structureless uniform-hash vectors give top-k rank gaps of ~1e-3
    *     cosine at 1M×dim-64 while i8 quantization perturbs cosines by
    *     ~4e-3, so recall caps at ~0.15-0.28 even at rf=8.
    * Vector `cid` belongs to cluster `cid / clusterSize` and sits at
    * radius `sigStep · (cid % clusterSize)` from its center, so each query
    * (the j=0 member) has clusterSize−1 true neighbors at distinct,
    * monotonically spaced cosines, with the nearest foreign vector far
    * below the weakest member:
    *   - "sep" (20, 0.035): consecutive-rank gaps ~0.01 near the k=10
    *     boundary, 2-5× the i8 quantization noise — the lossless regime;
    *   - "graded" (100, 0.006): gaps ~3e-4, a tenth of the noise, so the
    *     quantized shortlist displaces true neighbors and the rf curve
    *     shows what each doubling of shortlist depth buys back.
    */
  def planted(spark: SparkSession, n: Long, dim: Int, clusterSize: Int, sigStep: Double): DataFrame = {
    val cl = (col("id") / clusterSize.toLong).cast("long")
    val sigma = pmod(col("id"), lit(clusterSize.toLong)).cast("double") * sigStep
    spark.range(n).select(col("id").as("cid"),
      transform(sequence(lit(1), lit(dim)), i =>
        (((pmod(hash(cl, i), lit(2001)) - lit(1000)).cast("double") / 1000d) +
          sigma * ((pmod(hash(col("id"), i, lit(7)), lit(2001)) - lit(1000))
            .cast("double") / 1000d)).cast("float"))
        .as("cvec"))
  }

  /** The j=0 (near-center) member of up to 64 distinct clusters, cached;
    * the rankers exclude qid == cid, leaving the planted neighbors.
    */
  private def plantedQueries(corpus: DataFrame, clusterSize: Int): DataFrame = {
    val q = corpus.where(pmod(col("cid"), lit(clusterSize.toLong)) === 0L)
      .limit(NQueries)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
      .cache()
    q.count()
    q
  }

  /** The sf dir's embeddings as (cid, cvec). */
  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** copies× corpus: replica r shifts ids by r·10^9 and perturbs every
    * component by a deterministic hash jitter (≤1e-2), so replicas are
    * distinct vectors with the same cluster structure.
    */
  private def replicas(base: DataFrame, copies: Int): DataFrame =
    base.crossJoin(base.sparkSession.range(copies).select(col("id").as("r")))
      .select(
        (col("cid") + col("r") * 1000000000L).as("cid"),
        transform(col("cvec"),
          (x, i) => (x + (pmod(hash(col("cid"), col("r"), i), lit(1000)).cast("float")
            - 500f) / 50000f).cast("float")).as("cvec"))

  private def nlistFor(n: Long): Int = (32 * (n / 100000L).max(1L)).toInt

  /** Builds an index into a fresh `dir`; returns the build seconds. */
  private def build(corpus: DataFrame, dir: String, nlist: Int, storage: String = "f64",
      layout: String = "split"): Double = {
    Kit.freshDir(dir)
    Kit.secs {
      SimilarityOps.ivfIndexBuild(corpus, dir, nlist = nlist, fitSampleRows = FitSampleRows,
        vectorStorage = storage,
        maxCellOccupancyFactor =
          if (layout == "split") SimilarityOps.DefaultCellSplitFactor else Double.MaxValue)
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Share of `reference` pairs that `got` also returns. */
  private def recallOf(got: Set[(Long, Long)], reference: Set[(Long, Long)]): Double =
    (got & reference).size.toDouble / reference.size

  private def recall(spark: SparkSession, sfDir: String, copies: Int): Seq[String] = {
    val nprobe = 4
    val n = embeddings(spark, sfDir).count() * copies
    val lines = new Kit.Lines
    for ((variant, clusterSize, sigStep) <- Variants; dim <- Seq(64, 256)) {
      val corpus = planted(spark, n, dim, clusterSize, sigStep)
      val nlist = nlistFor(n)
      val queries = plantedQueries(corpus, clusterSize)
      val dirs = Seq("f64", "i8").map { st =>
        val dir = s"$Base/recall/$variant-d$dim-$st"
        build(corpus, dir, nlist, storage = st)
        st -> dir
      }.toMap
      def serveF64() = SimilarityOps.ivfTopKServe(queries, dirs("f64"), K, nprobe)
      val f64Sec = Kit.warmMinSecs(serveF64())
      val exactF64 = pairs(serveF64())
      val truth = pairs(SimilarityOps.bruteForceTopK(queries, corpus, K))
      lines += f"""{"variant":"$variant","dim":$dim,"corpus":$n,"nlist":$nlist,"f64_serve_sec":$f64Sec%.3f,"f64_recall_vs_brute":${recallOf(exactF64, truth)}%.4f}"""
      for (rf <- Seq(1, 2, 4, 8)) {
        def serveI8() =
          SimilarityOps.ivfTopKServe(queries, dirs("i8"), K, nprobe, rerankFactor = rf)
        val sec = Kit.warmMinSecs(serveI8())
        val recall = recallOf(pairs(serveI8()), exactF64)
        lines += f"""{"variant":"$variant","dim":$dim,"storage":"i8","rerank_factor":$rf,"serve_sec":$sec%.3f,"recall_at_$K%d_vs_f64":$recall%.4f}"""
      }
      queries.unpersist()
    }
    lines.toSeq
  }

  private def skew(spark: SparkSession, sfDir: String, copies: Int, layout: String): Seq[String] = {
    val nprobe = 4
    val n = embeddings(spark, sfDir).count() * copies
    val lines = new Kit.Lines
    println(s"[ivf-probe] skew layout=$layout")
    for ((variant, clusterSize, sigStep) <- Variants; dim <- Seq(64, 256)) {
      val corpus = planted(spark, n, dim, clusterSize, sigStep)
      val nlist = nlistFor(n)
      val dir = s"$Base/skew/$variant-d$dim-$layout"
      val buildSec = build(corpus, dir, nlist, layout = layout)
      val occ = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(dir))
        .groupBy("cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val sizes = occ.values.toSeq.sorted
      val cells = sizes.length
      val total = sizes.sum
      val mean = total.toDouble / cells
      val max = sizes.last
      val p99 = sizes((cells * 99) / 100 min (cells - 1))
      val top10Share = sizes.takeRight(10).sum.toDouble / total

      val queries = plantedQueries(corpus, clusterSize)
      // probed-cell mass: the rows the serving scan ranks per batch, at
      // the nprobe the serving path itself derives for this layout
      val (centRows, marker) = SimilarityOps.centroidsWithMarkerAt(
        spark, SimilarityOps.ivfIndexState(dir).root)
      val centers = centRows.map(_._2)
      val nprobeEff = SimilarityOps.effectiveNprobe(nprobe, centers.length, marker, "IvfProbe")
      val probed = queries.select(explode(NearestCentersExpr.of(
          col("qvec"), centers, math.min(nprobeEff, centers.length))).as("cluster"))
        .distinct().collect().map(_.getInt(0)).toSet
      val probedMass = probed.toSeq.map(c => occ.getOrElse(c, 0L)).sum
      val serveSec = Kit.warmMinSecs(SimilarityOps.ivfTopKServe(queries, dir, K, nprobe))

      lines += f"""{"variant":"$variant","dim":$dim,"corpus":$total,"nlist":$nlist,"cells":$cells,"occ_max":$max,"occ_p99":$p99,"occ_mean":$mean%.1f,"occ_max_over_mean":${max / mean}%.2f,"top10_share":$top10Share%.4f,"probed_cells":${probed.size},"probed_mass":$probedMass,"probed_share":${probedMass.toDouble / total}%.4f,"build_sec":$buildSec%.2f,"serve_sec":$serveSec%.3f}"""
      queries.unpersist()
    }
    lines.toSeq
  }

  private def nprobeSweep(spark: SparkSession, sfDir: String, copies: Int): Seq[String] = {
    val n = embeddings(spark, sfDir).count() * copies
    val lines = new Kit.Lines
    for ((variant, clusterSize, sigStep) <- Variants; dim <- Seq(256)) {
      val corpus = planted(spark, n, dim, clusterSize, sigStep)
      val queries = plantedQueries(corpus, clusterSize)
      val truth = pairs(SimilarityOps.bruteForceTopK(queries, corpus, K))
      for (layout <- Layouts) {
        val dir = s"$Base/nprobe/$variant-d$dim-$layout"
        build(corpus, dir, nlistFor(n), layout = layout)
        for (nprobe <- Seq(4, 6, 8, 12)) {
          def serve() = SimilarityOps.ivfTopKServe(queries, dir, K, nprobe)
          val sec = Kit.warmMinSecs(serve())
          val recall = recallOf(pairs(serve()), truth)
          lines += f"""{"variant":"$variant","dim":$dim,"layout":"$layout","nprobe":$nprobe,"serve_sec":$sec%.3f,"recall_vs_brute":$recall%.4f}"""
        }
      }
      queries.unpersist()
    }
    lines.toSeq
  }

  private def scale(spark: SparkSession, sfDir: String, baseCopies: Int,
      storage: String): Seq[String] = {
    val base = embeddings(spark, sfDir)
    val nBase = base.count()
    val queries = base.limit(8)
      .select(col("cid").as("qid"), col("cvec").as("qvec")).cache()
    queries.count()
    val lines = new Kit.Lines
    val serveSecs = for (m <- Seq(1, 4, 10)) yield {
      val copies = baseCopies * m
      val corpus = replicas(base, copies)
      val nlist = 32 * m // constant rows per cell: the production sizing rule
      val dir = s"$Base/scale/m$m"
      val buildSec = build(corpus, dir, nlist, storage = storage)
      val assignBytes = org.apache.commons.io.FileUtils.sizeOfDirectory(
        new java.io.File(SimilarityOps.ivfIndexAssignPath(dir)))
      val serveSec = Kit.warmMinSecs(SimilarityOps.ivfTopKServe(queries, dir, k = K, nprobe = 4))
      // the O(corpus) baseline for contrast
      val bruteSec = Kit.warmMinSecs(SimilarityOps.bruteForceTopK(queries, corpus, K), reps = 2)
      lines += f"""{"m":$m,"corpus":${nBase * copies},"nlist":$nlist,"storage":"$storage","assign_bytes":$assignBytes,"build_sec":$buildSec%.2f,"serve_sec":$serveSec%.3f,"brute_sec":$bruteSec%.3f}"""
      serveSec
    }
    lines += f"""{"serve_flatness_10x_over_1x":${serveSecs.last / serveSecs.head}%.2f}"""
    queries.unpersist()
    lines.toSeq
  }

  private def heap(spark: SparkSession, sfDir: String, copies: Int): Seq[String] = {
    val rt = Runtime.getRuntime
    val pid = ProcessHandle.current().pid()
    @volatile var peak = 0L
    @volatile var histo = ""
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val used = rt.totalMemory() - rt.freeMemory()
        if (used > peak) peak = used
        if (histo.isEmpty && used > (rt.maxMemory() * 0.70).toLong) {
          histo = try {
            val p = new ProcessBuilder("jcmd", pid.toString, "GC.class_histogram")
              .redirectErrorStream(true).start()
            val out = new String(p.getInputStream.readAllBytes())
            p.waitFor()
            out.linesIterator.take(34).mkString("\n")
          } catch { case e: Throwable => s"histogram failed: ${e.getMessage}" }
        }
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val base = embeddings(spark, sfDir)
    val corpus = replicas(base, copies)
    def gb(x: Long): Double = x / 1e9
    val lines = new Kit.Lines
    try {
      lines += f"""{"max_heap_gb":${gb(rt.maxMemory())}%.2f,"corpus":${base.count() * copies}}"""
      for (st <- Seq("f64", "f32", "i8")) {
        val dir = s"$Base/heap/$st"
        peak = 0L
        val sec = build(corpus, dir, nlist = 16, storage = st)
        System.gc(); Thread.sleep(500); System.gc()
        val retained = rt.totalMemory() - rt.freeMemory()
        // one file per cell = the co-located write layout
        val cellDirs = Option(new java.io.File(
          SimilarityOps.ivfIndexAssignPath(dir)).listFiles())
          .getOrElse(Array.empty).filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        val maxFilesPerCell =
          if (cellDirs.isEmpty) 0
          else cellDirs.map(d => Option(d.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".btr"))).max
        lines += f"""{"storage":"$st","build_sec":$sec%.1f,"peak_heap_gb":${gb(peak)}%.2f,"retained_after_gc_gb":${gb(retained)}%.2f,"max_files_per_cell":$maxFilesPerCell}"""
      }
    } finally {
      sampling = false
      sampler.join()
    }
    if (histo.isEmpty) lines.toSeq
    else {
      println("=== class histogram at first >70%-of-max crossing ===")
      println(histo)
      lines.toSeq ++ Seq("histogram:", histo)
    }
  }
}
