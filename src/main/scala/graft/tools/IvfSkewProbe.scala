package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cell-occupancy + probed-mass probe for the persisted IVF index (round
  * 22, VERDICT r21 #1): on a graded corpus the k-means coarse quantizer
  * leaves a handful of oversized cells, and serving cost is the ROW MASS
  * of the probed cells — this probe makes both observable so the
  * cell-split fix is measured, not asserted.
  *
  * For each corpus variant (the AnnRecallProbe constructions) it builds
  * an f64 IVF-flat index and prints:
  *   - the final centroid count (vs the base nlist — a split build has
  *     more);
  *   - the cell-occupancy histogram (max / p99 / mean / the top-10 cells'
  *     share of the corpus);
  *   - the probed-cell mass for the standard 64-query batch at nprobe=4
  *     (the rows the serving scan must rank, the direct cost driver);
  *   - serve wall time (min of 3, noop sink).
  *
  *   runMain graft.tools.IvfSkewProbe <sfDir> [copies=500] [out.json]
  */
object IvfSkewProbe {
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

    // same planted-cluster construction as AnnRecallProbe
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

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for {
      (variant, clusterSize, sigStep) <- Seq(("sep", 20, 0.035), ("graded", 100, 0.006))
      dim <- Seq(64, 256)
    } {
      val n = nBase * copies
      val corpus = corpusOf(n, dim, clusterSize, sigStep)
      val nlist = (32 * (n / 100000L).max(1L)).toInt
      // SPARK_GRAFT_IVF_NOSPLIT=1 disables the splitter — the same-box
      // A/B control for the round-22 oversized-cell fix
      val noSplit = sys.env.getOrElse("SPARK_GRAFT_IVF_NOSPLIT", "0") == "1"
      val dir = s"/tmp/btr-ann-skew/$variant-d$dim" + (if (noSplit) "-nosplit" else "")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val buildSec = secs {
        SimilarityOps.ivfIndexBuild(corpus, dir, nlist = nlist, fitSampleRows = 10000,
          maxCellOccupancyFactor =
            if (noSplit) Double.MaxValue else SimilarityOps.DefaultCellSplitFactor)
      }
      // occupancy histogram from the assign table
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

      val queries = corpus.where(pmod(col("cid"), lit(clusterSize.toLong)) === 0L)
        .limit(nQueries)
        .select(col("cid").as("qid"), col("cvec").as("qvec"))
        .cache()
      queries.count()
      // probed-cell mass: the rows the serving scan must rank per batch,
      // through the serving path's own share-contract nprobe scaling
      val (centRows, marker) = SimilarityOps.centroidsWithMarkerAt(
        spark, SimilarityOps.ivfIndexState(dir).root)
      val centers = centRows.map(_._2)
      val nprobeEff =
        SimilarityOps.effectiveNprobe(nprobe, centers.length, marker, "IvfSkewProbe")
      val probed = queries.select(explode(graft.functions.NearestCentersExpr.of(
          col("qvec"), centers, math.min(nprobeEff, centers.length))).as("cluster"))
        .distinct().collect().map(_.getInt(0)).toSet
      val probedMass = probed.toSeq.map(c => occ.getOrElse(c, 0L)).sum

      def serve() = SimilarityOps.ivfTopKServe(queries, dir, k, nprobe)
      serve().write.mode("overwrite").format("noop").save()
      val serveSec = (1 to 3).map(_ => secs {
        serve().write.mode("overwrite").format("noop").save()
      }).min

      lines += f"""{"variant":"$variant","dim":$dim,"corpus":$total,"nlist":$nlist,"cells":$cells,"occ_max":$max,"occ_p99":$p99,"occ_mean":$mean%.1f,"occ_max_over_mean":${max / mean}%.2f,"top10_share":$top10Share%.4f,"probed_cells":${probed.size},"probed_mass":$probedMass,"probed_share":${probedMass.toDouble / total}%.4f,"build_sec":$buildSec%.2f,"serve_sec":$serveSec%.3f}"""
      println(lines.last)
      queries.unpersist()
    }
    if (args.length > 2) {
      val w = new java.io.PrintWriter(new java.io.File(args(2)))
      try lines.foreach(w.println) finally w.close()
    }
    spark.stop()
  }
}
