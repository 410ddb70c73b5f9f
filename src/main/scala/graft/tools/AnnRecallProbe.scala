package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall-vs-rerankFactor curve for the quantized IVF layouts (VERDICT
  * r19 #3): the i8 two-stage rank's `IvfRerankFactor = 4` default was
  * asserted, not measured. For each dim ∈ {64, 256} (the corpus's native
  * dim and the high-dim regime where the i8 I/O win approaches 8×) this
  * probe builds an f64 and an i8 index over the same corpus and
  * reports, for rerankFactor ∈ {1, 2, 4, 8}:
  *
  *   - recall@k of the i8 serve against the SAME-nprobe f64 serve — the
  *     quantization + shortlist-depth loss in isolation (cell misses
  *     from a finite nprobe affect both sides equally and cancel);
  *   - the i8 serve latency (min of 3), so the shortlist-checkpoint fold
  *     and the shortlist-depth cost are readable from the same line.
  *
  * One context line per dim carries the f64 serve's own recall against
  * brute force (the nprobe ceiling both layouts live under) and the f64
  * serve latency baseline.
  *
  *   runMain graft.tools.AnnRecallProbe <sfDir> [copies=500] [out.json]
  *
  * copies=500 × the sf0.1 corpus row count (2,000) sizes the 1M-vector
  * setting BASELINE.md quotes; 1M × dim-256 builds want
  * SPARK_DRIVER_MEM=16g (see the sf10 bench note).
  */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val copies = if (args.length > 1) args(1).toInt else 500
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.SimilarityOps

    val k = 10
    val nprobe = 4
    val nQueries = 64
    val nBase = spark.read.parquet(s"$sfDir/embeddings.parquet").count()

    /** n DISTINCT deterministic vectors with PLANTED neighbors at
      * staggered radii — the construction recall@k can actually count.
      * Two rejected alternatives, both measured:
      *   - jittered replicas (the AnnScaleProbe corpus) put ~`copies`
      *     near-identical twins around every query whose rounded
      *     cosines tie hundreds deep — "recall" caps at
      *     shortlist/plateau ≈ 0.15 regardless of quantization;
      *   - structureless uniform-hash vectors give top-k rank gaps of
      *     ~1e-3 cosine at 1M×dim-64 (extreme-value spacing) while i8
      *     quantization perturbs cosines by ~4e-3, so the shortlist
      *     reorders arbitrarily and recall caps at ~0.15-0.28 even at
      *     rf=8 — measuring noise-vs-noise on a corpus shape no real
      *     embedding set has.
      * Here vector `cid` belongs to cluster `cid / clusterSize` and sits
      * at radius `sigStep · (cid % clusterSize)` from its center, so each
      * query (the j=0 member) has clusterSize−1 true neighbors at
      * distinct, monotonically-spaced cosines, with the nearest FOREIGN
      * vector far below the weakest member. Two variants bracket the
      * regimes a real embedding corpus mixes:
      *   - "sep" (clusterSize 20, sigStep 0.035): consecutive-rank gaps
      *     ~0.01 near the k=10 boundary, 2-5× the i8 quantization noise
      *     (~4e-3 at dim 64) — the true top-k survives quantization and
      *     any rf, so this row measures the LOSSLESS regime;
      *   - "graded" (clusterSize 100, sigStep 0.006): gaps ~3e-4, a
      *     tenth of the quantization noise, so the quantized shortlist
      *     genuinely displaces true neighbors and the rf curve shows
      *     what each doubling of shortlist depth buys back (the
      *     exact re-rank repairs everything the shortlist retains).
      */
    def corpusOf(n: Long, dim: Int, clusterSize: Int, sigStep: Double): DataFrame = {
      val cl = (col("id") / clusterSize.toLong).cast("long")
      val sigma = pmod(col("id"), lit(clusterSize.toLong)).cast("double") * sigStep
      spark.range(n).select(col("id").as("cid"),
        transform(sequence(lit(1), lit(dim)), i =>
          (((pmod(hash(cl, i), lit(2001)) - lit(1000)).cast("double") / 1000d) +
            sigma * ((pmod(hash(col("id"), i, lit(7)), lit(2001)) - lit(1000))
              .cast("double") / 1000d)).cast("float"))
          .as("cvec"))
    }

    def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for {
      (variant, clusterSize, sigStep) <- Seq(("sep", 20, 0.035), ("graded", 100, 0.006))
      dim <- Seq(64, 256)
    } {
      val n = nBase * copies
      val corpus = corpusOf(n, dim, clusterSize, sigStep)
      val nlist = (32 * (n / 100000L).max(1L)).toInt
      // queries = the j=0 (near-center) member of distinct clusters;
      // the rankers exclude qid == cid, leaving the planted neighbors
      val queries = corpus.where(pmod(col("cid"), lit(clusterSize.toLong)) === 0L)
        .limit(nQueries)
        .select(col("cid").as("qid"), col("cvec").as("qvec"))
        .cache()
      queries.count()

      val dirs = Seq("f64", "i8").map { st =>
        val dir = s"/tmp/btr-ann-recall/$variant-d$dim-$st"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        SimilarityOps.ivfIndexBuild(corpus, dir, nlist = nlist,
          fitSampleRows = 10000, vectorStorage = st)
        st -> dir
      }.toMap

      // same-nprobe f64 serve = the quantization-free reference; brute
      // force = ground truth for the nprobe ceiling (context only)
      def serveF64() = SimilarityOps.ivfTopKServe(queries, dirs("f64"), k, nprobe)
      serveF64().write.mode("overwrite").format("noop").save()
      val f64Sec = (1 to 3).map(_ => secs {
        serveF64().write.mode("overwrite").format("noop").save()
      }).min
      val exactF64 = pairs(serveF64())
      val truth = pairs(SimilarityOps.bruteForceTopK(queries, corpus, k))
      val f64Recall = (exactF64 & truth).size.toDouble / truth.size
      lines += f"""{"variant":"$variant","dim":$dim,"corpus":$n,"nlist":$nlist,"f64_serve_sec":$f64Sec%.3f,"f64_recall_vs_brute":$f64Recall%.4f}"""
      println(lines.last)

      for (rf <- Seq(1, 2, 4, 8)) {
        def serveI8() =
          SimilarityOps.ivfTopKServe(queries, dirs("i8"), k, nprobe, rerankFactor = rf)
        serveI8().write.mode("overwrite").format("noop").save()
        val sec = (1 to 3).map(_ => secs {
          serveI8().write.mode("overwrite").format("noop").save()
        }).min
        val got = pairs(serveI8())
        val recall = (got & exactF64).size.toDouble / exactF64.size
        lines += f"""{"variant":"$variant","dim":$dim,"storage":"i8","rerank_factor":$rf,"serve_sec":$sec%.3f,"recall_at_$k%d_vs_f64":$recall%.4f}"""
        println(lines.last)
      }
      queries.unpersist()
    }
    if (args.length > 2) {
      val w = new java.io.PrintWriter(new java.io.File(args(2)))
      try lines.foreach(w.println) finally w.close()
    }
    spark.stop()
  }
}
