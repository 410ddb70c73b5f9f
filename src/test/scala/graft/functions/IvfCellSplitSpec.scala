package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Oversized-cell splitting (round 22, VERDICT r20 #1 / r21 #1): a build
  * whose occupancy aggregate finds cells above the split bounds re-fits
  * them into sub-cells, bounding the probed-cell row mass on graded
  * corpora. Serving code is unchanged — the centroid table just carries
  * more rows — so the pins here are: the split happens and bounds
  * occupancy, ranking stays EXACT at full probe, serve ≡ indexed
  * row-identity holds on a split index, appends land in sub-cells,
  * rebuilds inherit the BASE nlist, and the absolute floor keeps small
  * (gate-sized) corpora building identically to the unsplit layout.
  */
class IvfCellSplitSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ivf-cell-split-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(name: String): String = {
    val d = s"/tmp/btr-ivf-split-spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  private val Dim = 8

  /** 800 rows piled in one tight blob + 200 spread uniformly: the graded
    * regime in miniature — the blob lands in one or two k-means cells.
    */
  private def skewedCorpus(): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    val hot = Seq.tabulate(Dim)(i => if (i == 0) 10f else 5f)
    val blob = (0L until 800L).map(i =>
      i -> hot.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    val spread = (800L until 1000L).map(i =>
      i -> Seq.fill(Dim)(rnd.nextGaussian().toFloat * 4f))
    blob ++ spread
  }

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame = rows.toDF("cid", "cvec")

  private def occupancy(dir: String): Map[Int, Long] =
    spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(dir))
      .groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("an oversized cell splits; occupancy bounds; ranking stays exact; appends inherit") {
    val dir = tmp("split")
    val corpus = skewedCorpus()
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 1000,
      maxCellOccupancyFactor = 2.0, minCellSplitRows = 100L)
    val cents = SimilarityOps.centroidsOf(spark, dir)
    assert(cents.length > 4, s"expected a split (> 4 cells), got ${cents.length}")
    // centroid ids are contiguous 0..K-1 and the assign table uses them
    assert(cents.map(_._1) == (0 until cents.length))
    val occ = occupancy(dir)
    assert(occ.keySet.subsetOf((0 until cents.length).toSet))
    assert(occ.values.sum == corpus.length)
    // the blob (800 rows in one pre-split cell) must now spread: no final
    // cell holds more than half of it
    assert(occ.values.max <= 400,
      s"split must bound the hot cell, got max occupancy ${occ.values.max}")
    // full-probe ranking over the split index is EXACT (the layout change
    // must not perturb results — only which cells a bounded probe reads)
    val full = df(corpus)
    val qs = full.filter(col("cid") < 3 || col("cid") >= 998L)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
    val served = SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = cents.length)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Int]("rank"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, full, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Int]("rank"))).toSet
    assert(served == exact, "full-probe serve over a split index must equal brute force")
    // serve ≡ indexed row-identity (the gate invariant) on the split index
    val idx = SimilarityOps.ivfTopKIndexed(qs, full, dir, k = 3, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Int]("rank"))).toSet
    val srv6 = SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Int]("rank"))).toSet
    assert(idx == srv6, "serve and indexed must agree row-for-row on a split index")
    // an append lands in a final (sub-)cell through the same centroids
    val inc = Seq((5000L, corpus.head._2.map(x => x * 1.0f)))
    val (n, drift) = SimilarityOps.ivfIndexAppend(df(inc), dir)
    assert(n == 1 && drift > 0.5)
    val occ2 = occupancy(dir)
    assert(occ2.values.sum == corpus.length + 1)
    assert(occ2.keySet.subsetOf((0 until cents.length).toSet),
      "appends must assign into the FINAL cell id space")
    // rebuilds inherit the BASE nlist, not the split centroid count
    val (_, _, baseNlist) = SimilarityOps.ivfIndexLayoutOf(spark, dir)
    assert(baseNlist == 4, s"layoutOf must report the base nlist, got $baseNlist")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("effectiveNprobe preserves the probed cell share on split builds only") {
    val marker = Some("""{"v":1,"nlist":320,"stamp":"x"}""")
    // unsplit build (cells == base): exact passthrough at any nprobe
    assert(SimilarityOps.effectiveNprobe(4, 320, marker, "t") == 4)
    // no marker (pre-pointer/unpublished): passthrough
    assert(SimilarityOps.effectiveNprobe(4, 649, None, "t") == 4)
    // split build: ceil(nprobe x cells / base), the caller's cell share
    assert(SimilarityOps.effectiveNprobe(4, 649, marker, "t") == 9)
    assert(SimilarityOps.effectiveNprobe(1, 480, marker, "t") == 2)
    // capped at the cell count, and a full probe stays a full probe
    assert(SimilarityOps.effectiveNprobe(300, 480, marker, "t") == 450)
    assert(SimilarityOps.effectiveNprobe(480, 480, marker, "t") == 480)
    assert(SimilarityOps.effectiveNprobe(500, 480, marker, "t") == 500)
  }

  test("a low-nprobe serve on a split index scales its probe (share contract)") {
    val dir = tmp("split-scale")
    val corpus = skewedCorpus()
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 1000,
      maxCellOccupancyFactor = 2.0, minCellSplitRows = 100L)
    val cents = SimilarityOps.centroidsOf(spark, dir)
    assert(cents.length > 4)
    val qs = df(corpus).filter(col("cid") < 3)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
    // capture the scaling log line while serving at the caller's nprobe=1
    val logger = org.apache.log4j.Logger.getLogger(SimilarityOps.getClass)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new org.apache.log4j.AppenderSkeleton {
      override def append(e: org.apache.log4j.spi.LoggingEvent): Unit =
        events.add(String.valueOf(e.getMessage))
      override def close(): Unit = {}
      override def requiresLayout(): Boolean = false
    }
    val prevLevel = logger.getLevel
    logger.setLevel(org.apache.log4j.Level.INFO)
    logger.addAppender(app)
    try {
      SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = 1)
        .write.mode("overwrite").format("noop").save()
    } finally {
      logger.removeAppender(app)
      logger.setLevel(prevLevel)
    }
    import scala.jdk.CollectionConverters._
    val expectEff = (cents.length + 3) / 4 // ceil(1 x cells / base 4)
    assert(events.asScala.exists(_.contains(
      s"nprobe 1 scaled to $expectEff on a split build (${cents.length} cells from base nlist 4)")),
      s"expected the share-contract scaling log; got: ${events.asScala.toList}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("the absolute floor keeps small corpora unsplit (gate parity)") {
    val dir = tmp("floor")
    // same skew, default bounds: 800 rows < DefaultMinCellSplitRows, so
    // the build must be byte-identical to the pre-split layout
    SimilarityOps.ivfIndexBuild(df(skewedCorpus()), dir, nlist = 4, fitSampleRows = 1000)
    assert(SimilarityOps.centroidsOf(spark, dir).length == 4,
      "default bounds must not split a gate-sized corpus")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a split i8 index keeps the quantized two-stage rank exact at full probe") {
    val dir = tmp("split-i8")
    val corpus = skewedCorpus()
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 1000,
      vectorStorage = "i8",
      maxCellOccupancyFactor = 2.0, minCellSplitRows = 100L)
    val cents = SimilarityOps.centroidsOf(spark, dir)
    assert(cents.length > 4)
    val full = df(corpus)
    // well-separated queries: rank them against a generous shortlist so
    // the i8 quantization cannot reorder the true top-k
    val qs = full.filter(col("cid") >= 998L)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
    val served = SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = cents.length,
        rerankFactor = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, full, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(served == exact,
      "split i8 serve must match brute force at full probe on separated queries")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a split level that does not shrink the worst cell is not published") {
    val dir = tmp("unsplittable")
    // 800 IDENTICAL vectors far from 200 spread ones: the blob's cell is
    // oversized, but every sub-center fitted to it coincides, so a split
    // cannot move a single row out of it
    val rnd = new scala.util.Random(9)
    val blob = (0L until 800L).map(i => i -> Seq.fill(Dim)(100f))
    val spread = (800L until 1000L).map(i => i -> Seq.fill(Dim)(rnd.nextGaussian().toFloat))
    SimilarityOps.ivfIndexBuild(df(blob ++ spread), dir, nlist = 4, fitSampleRows = 1000,
      maxCellOccupancyFactor = 2.0, minCellSplitRows = 100L)
    assert(SimilarityOps.centroidsOf(spark, dir).length == 4,
      "a failed split level must keep the level-0 layout (4 cells)")
    assert(occupancy(dir).values.sum == 1000)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("an array<double> corpus with an oversized cell splits") {
    val dir = tmp("split-f64-input")
    val corpus = skewedCorpus().map { case (i, v) => (i, v.map(_.toDouble)) }
    val full = corpus.toDF("cid", "cvec")
    SimilarityOps.ivfIndexBuild(full, dir, nlist = 4, fitSampleRows = 1000,
      maxCellOccupancyFactor = 2.0, minCellSplitRows = 100L)
    val cents = SimilarityOps.centroidsOf(spark, dir)
    assert(cents.length > 4, s"expected a split (> 4 cells), got ${cents.length}")
    val occ = occupancy(dir)
    assert(occ.values.sum == corpus.length)
    assert(occ.values.max <= 400,
      s"split must bound the hot cell, got max occupancy ${occ.values.max}")
    val qs = full.filter(col("cid") < 3 || col("cid") >= 998L)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
    val served = SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = cents.length)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, full, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(served == exact, "full-probe serve over a split index must equal brute force")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("the fit sample spans the layout and stays at the cap when partitions outnumber it") {
    // 8 one-hot clusters in id order, 3,000 rows each, over 400 partitions
    // of 60 rows: more partitions than the 100-row sample cap, each big
    // enough that the 5% Bernoulli pick almost always keeps a row
    val clusters = 8
    val cl = (col("id") / 3000L).cast("int")
    val generated = spark.range(0, 24000, 1, 400).select(col("id").as("cid"),
      transform(sequence(lit(0), lit(clusters - 1)), i =>
        (when(i === cl, 10.0).otherwise(0.0) +
          (pmod(hash(col("id"), i), lit(101)) - lit(50)).cast("double") / 500.0).cast("float"))
        .as("cvec"))
    // counts the corpus partitions each job reads: every partition read
    // hands the driver one sampled row
    val partsRead = spark.sparkContext.longAccumulator("fit-sample-partitions")
    val corpus = generated.mapPartitions { it => partsRead.add(1); it }(
      org.apache.spark.sql.Encoders.row(generated.schema))
    assert(corpus.rdd.getNumPartitions == 400)
    def clusterOf(v: Seq[Double]): Int = v.indices.maxBy(v)
    val sample = SimilarityOps.fitSampleOf(corpus, nlist = clusters, fitSampleRows = 100)
    assert(partsRead.value <= 100, s"the sample job must read at most 100 partitions, read ${partsRead.value}")
    assert(sample.length <= 100, s"sample must stay at the cap, got ${sample.length}")
    assert(sample.map(v => clusterOf(v.toSeq)).toSet == (0 until clusters).toSet,
      "the sample must reach past the leading partitions")
    val dir = tmp("fit-many-partitions")
    SimilarityOps.ivfIndexBuild(corpus, dir, nlist = clusters, fitSampleRows = 100)
    val fitted = SimilarityOps.centroidsOf(spark, dir).map(c => clusterOf(c._2)).toSet
    assert(fitted.size >= clusters / 2 && fitted.exists(_ >= clusters / 2),
      s"centroids must cover clusters beyond the leading partitions, got $fitted")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
