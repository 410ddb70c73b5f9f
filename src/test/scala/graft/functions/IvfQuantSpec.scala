package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

/** Quantized IVF-flat vector storage (VERDICT r18 top item): f32 halves
  * the stored vector bytes with an unchanged ranking path; i8 stores
  * 1-byte/dim per-vector affine codes that the two-stage rank reads for
  * the shortlist (the float32 copy column-prunes out of that scan) and
  * re-ranks exactly via a bounded id-IN fetch. Pins the layouts, the
  * exactness of both quantized paths at full probe, the append/refresh/
  * stale-row layout preservation, the column-pruning plan shape, the
  * on-disk byte win, and the quantization kernel's round-trip error.
  */
class IvfQuantSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("ivf-quant-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.GraftExtensions.register(s)
    s
  }

  import spark.implicits._

  private def tmp(name: String): String = {
    val d = s"/tmp/btr-ivf-quant-spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  private val Dim = 8

  private def randVecs(ids: Seq[Long], seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => i -> Seq.fill(Dim)(rnd.nextGaussian().toFloat))
  }

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame = rows.toDF("cid", "cvec")

  private def pairs(r: DataFrame): Set[(Long, Long, Int)] =
    r.collect().map(x => (x.getAs[Long]("qid"), x.getAs[Long]("cid"),
      x.getAs[Int]("rank"))).toSet

  // ---- kernel ----

  test("quantize/quant_cos kernel: round-trip within scale/2, cos within 1e-2, nulls null") {
    val rnd = new scala.util.Random(5)
    val vecs = Seq.fill(50)(Array.fill(16)(rnd.nextGaussian()))
    vecs.foreach { v =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(v)
      val parts = QuantVecUtil.quantize(in, 1)
      val codes = parts(0).asInstanceOf[Array[Byte]]
      val qs = parts(1).asInstanceOf[java.lang.Double].doubleValue()
      val qo = parts(2).asInstanceOf[java.lang.Double].doubleValue()
      val qn = parts(3).asInstanceOf[java.lang.Double].doubleValue()
      assert(codes.length == v.length)
      assert(math.abs(qn - math.sqrt(v.map(x => x * x).sum)) < 1e-12)
      // per-element reconstruction error ≤ scale/2 (+ fp slack)
      v.indices.foreach { i =>
        val back = qo + qs * (codes(i) + 128)
        assert(math.abs(back - v(i)) <= qs / 2 + 1e-12,
          s"elem $i: $back vs ${v(i)} (scale $qs)")
      }
      // quantized cosine ≈ exact cosine against a random query
      val q = Array.fill(16)(rnd.nextGaussian())
      val qArr = new org.apache.spark.sql.catalyst.util.GenericArrayData(q)
      val approx = QuantVecUtil.quantCos(codes, qs, qo, qn, qArr, 1)
        .asInstanceOf[java.lang.Double].doubleValue()
      val dot = v.zip(q).map { case (a, b) => a * b }.sum
      val exact = dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
      assert(math.abs(approx - exact) < 1e-2, s"approx $approx vs exact $exact")
    }
    // constant vector: scale 0, codes all zero, cos well-defined
    val const = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.fill(4)(2.5))
    val cp = QuantVecUtil.quantize(const, 1)
    assert(cp(0).asInstanceOf[Array[Byte]].forall(_ == -128))
    assert(cp(1).asInstanceOf[java.lang.Double].doubleValue() == 0.0)
    // length mismatch nulls
    val q3 = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.fill(3)(1.0))
    assert(QuantVecUtil.quantCos(cp(0).asInstanceOf[Array[Byte]], 0.0, 2.5,
      5.0, q3, 1) == null)
  }

  test("quantize_vec / quant_cos SQL functions registered; codegen and interpreted agree") {
    val rows = randVecs(0L until 64L, seed = 11)
    val d = df(rows).withColumn("q", QuantizeVecExpr.of(col("cvec")))
      .withColumn("approx", QuantCosExpr.of(
        col("q.qvec"), col("q.qs"), col("q.qo"), col("q.qn"), col("cvec")))
      .withColumn("exact", SimilarityOps.cosine(col("cvec"), col("cvec")))
    // a vector against itself: approx cosine within quantization error of 1.0
    d.select("approx", "exact").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 2e-2, s"self-cos ${r.getDouble(0)}")
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-6)
    }
    // same through the SQL surface (session extension registration)
    df(rows).createOrReplaceTempView("qv_in")
    val viaSql = spark.sql(
      """SELECT quant_cos(q.qvec, q.qs, q.qo, q.qn, cvec) AS a
        |FROM (SELECT cvec, quantize_vec(cvec) AS q FROM qv_in)""".stripMargin)
    viaSql.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 2e-2))
  }

  // ---- layouts ----

  test("f32 build stores array<float>; serve/indexed bit-agree with the f64 index") {
    val d64 = tmp("f64-ref")
    val d32 = tmp("f32")
    val corpus = randVecs(0L until 400L, seed = 21)
    SimilarityOps.ivfIndexBuild(df(corpus), d64, nlist = 8, fitSampleRows = 300)
    SimilarityOps.ivfIndexBuild(df(corpus), d32, nlist = 8, fitSampleRows = 300,
      vectorStorage = "f32")
    val a64 = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(d64))
    val a32 = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(d32))
    assert(a64.schema("cvec").dataType.simpleString == "array<double>")
    assert(a32.schema("cvec").dataType.simpleString == "array<float>")
    val qs = df(corpus.take(3)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    // float corpus: the f64 copy is the exact widening, so every path is
    // bit-equal — serve, indexed, and brute force all agree at full probe
    val exact = pairs(SimilarityOps.bruteForceTopK(qs, df(corpus), 5))
    assert(pairs(SimilarityOps.ivfTopKServe(qs, d32, k = 5, nprobe = 8)) == exact)
    assert(pairs(SimilarityOps.ivfTopKServe(qs, d64, k = 5, nprobe = 8)) == exact)
    assert(pairs(SimilarityOps.ivfTopKIndexed(qs, df(corpus), d32, k = 5, nprobe = 8)) == exact)
    Seq(d64, d32).foreach(x =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(x)))
  }

  test("i8 build: quantized layout, exact serve at full probe, append/stale preserve it") {
    val dir = tmp("i8")
    val corpus = randVecs(0L until 400L, seed = 31)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 8, fitSampleRows = 300,
      vectorStorage = "i8")
    val assign = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(dir))
    assert(assign.columns.toSet == Set("cid", "cluster", "q8", "qs", "qo", "qn", "cvec"))
    assert(assign.schema("q8").dataType.simpleString == "binary")
    assert(assign.schema("cvec").dataType.simpleString == "array<float>")
    val qs = df(corpus.take(3)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    // full probe + 4k shortlist + exact re-rank ≡ brute force on this corpus
    val exact = pairs(SimilarityOps.bruteForceTopK(qs, df(corpus), 5))
    assert(pairs(SimilarityOps.ivfTopKServe(qs, dir, k = 5, nprobe = 8)) == exact)
    assert(pairs(SimilarityOps.ivfTopKIndexed(qs, df(corpus), dir, k = 5, nprobe = 8)) == exact)
    // append keeps the quantized layout (row-local quantization)
    val inc = randVecs(500L until 530L, seed = 32)
    val (n, _) = SimilarityOps.ivfIndexAppend(df(inc), dir)
    assert(n == inc.length.toLong)
    val after = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(dir))
    assert(after.columns.toSet == Set("cid", "cluster", "q8", "qs", "qo", "qn", "cvec"))
    assert(after.filter(col("cid") >= 500L).count() == inc.length.toLong)
    val all = corpus ++ inc
    val qs2 = df(inc.take(3)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    assert(pairs(SimilarityOps.ivfTopKServe(qs2, dir, k = 5, nprobe = 8)) ==
      pairs(SimilarityOps.bruteForceTopK(qs2, df(all), 5)))
    // stale candidates (never refreshed in) quantize on the fly and rank
    // through the same two-stage path — still exact at full probe
    val late = randVecs(900L until 940L, seed = 33)
    val withLate = all ++ late
    val qs3 = df(late.take(2)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    assert(pairs(SimilarityOps.ivfTopKIndexed(qs3, df(withLate), dir, k = 5, nprobe = 8)) ==
      pairs(SimilarityOps.bruteForceTopK(qs3, df(withLate), 5)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ---- the scale properties ----

  test("i8 ranking scan column-prunes the float copy; exact fetch is id-bounded") {
    val dir = tmp("i8-prune")
    val corpus = randVecs(0L until 400L, seed = 41)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 8, fitSampleRows = 300,
      vectorStorage = "i8")
    val qs = df(corpus.take(2)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    // the stage-1 shortlist is a local checkpoint, so its quantized scan
    // runs in its own execution, not in the result's plan: collect the
    // executed plans of every execution the serve runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = 2).collect()
    finally {
      // the listener bus delivers asynchronously; wait for the collect
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.{Seconds, Span}
      eventually(timeout(Span(30, Seconds))) { assert(plans.size >= 2) }
      spark.listenerManager.unregister(listener)
    }
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collectLeaves().flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leaves(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(q.plan)
        case x => Seq(x)
      }
    import scala.jdk.CollectionConverters._
    val scans = plans.asScala.toSeq.flatMap(leaves).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val outs = scans.map(_.output.map(_.name).toSet)
    val stage1 = outs.filter(_.contains("q8"))
    assert(stage1.nonEmpty, s"expected a quantized shortlist scan, got $outs")
    stage1.foreach(o => assert(!o.contains("cvec"),
      s"the shortlist scan must column-prune the float copy, read $o"))
    val stage2 = outs.filter(o => o.contains("cvec") && !o.contains("q8"))
    assert(stage2.nonEmpty, s"expected a float-copy re-rank scan, got $outs")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("i8 codes column is ~4x smaller on disk than the float copy") {
    val dir = tmp("i8-bytes")
    val corpus = randVecs(0L until 2000L, seed = 51)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 500,
      vectorStorage = "i8")
    val desc = graft.functions.BtrInspect.describe(
      spark, SimilarityOps.ivfIndexAssignPath(dir))
      .select("column", "compressed_bytes").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sum).toMap
    val codes = desc("q8")
    val floats = desc("cvec")
    // raw ratio is exactly 4 (1 byte vs 4 per dim, both incompressible on
    // gaussian data); allow the codes column its per-chunk footer overhead
    assert(codes * 39 <= floats * 10,
      s"q8=$codes bytes vs float copy=$floats — expected ~4x smaller")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("IVF BUILD ... STORAGE 'i8' SQL verb builds the quantized layout") {
    // shared test JVM: the session predates extension injection, so drive
    // the parser class directly — the same path sql() takes after it
    val dir = tmp("i8-sql-idx")
    val tableDir = tmp("i8-sql-corpus")
    val corpus = randVecs(0L until 300L, seed = 61)
    df(corpus).write.format("btr").mode("overwrite").save(tableDir)
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)
    val cmd = parser.parsePlan(
      s"IVF BUILD INDEX '$dir' FROM graft.`$tableDir` (cid, cvec) NLIST 8 STORAGE 'i8'")
      .asInstanceOf[graft.sources.BtrIvfBuildCommand]
    assert(cmd.storage == "i8" && cmd.nlist == 8)
    assert(cmd.run(spark).head.getLong(0) == 1L)
    val assign = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(dir))
    assert(assign.columns.contains("q8"))
    // no STORAGE clause keeps the f64 default; f32 parses too
    assert(parser.parsePlan(
      s"IVF BUILD INDEX '${dir}_x' FROM graft.`$tableDir` (cid, cvec)")
      .asInstanceOf[graft.sources.BtrIvfBuildCommand].storage == "f64")
    assert(parser.parsePlan(
      s"IVF BUILD INDEX '${dir}_x' FROM graft.`$tableDir` (cid, cvec) STORAGE 'f32'")
      .asInstanceOf[graft.sources.BtrIvfBuildCommand].storage == "f32")
    assert(!new java.io.File(s"${dir}_x").exists(), "parsing must not build")
    // TVF front-end parity: the optional 6th arg selects the storage and
    // the state TVF reports the layout back
    val tvfDir = tmp("i8-tvf-idx")
    spark.sql(s"SELECT * FROM ivf_index_build('$tableDir', 'cid', 'cvec', " +
      s"'$tvfDir', 8, 'i8')").collect()
    val tvfAssign = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(tvfDir))
    assert(tvfAssign.columns.contains("q8"), "TVF build must honor storage='i8'")
    val st = spark.sql(s"SELECT storage, nlist FROM ivf_index_state('$tvfDir')").head
    assert(st.getString(0) == "i8" && st.getInt(1) == 8,
      s"state TVF must report the quantized layout, got $st")
    Seq(dir, tableDir, tvfDir).foreach(x =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(x)))
  }

  test("rerankFactor tunes the i8 shortlist: depth-covering ≡ exact, floor still serves k") {
    val dir = tmp("i8-rerank")
    val corpus = randVecs(0L until 300L, seed = 101)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 200,
      vectorStorage = "i8")
    val qs = df(corpus.take(3)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val exact = pairs(SimilarityOps.bruteForceTopK(qs, df(corpus), 5))
    // a shortlist deep enough to cover every candidate makes the exact
    // re-rank total — byte-for-byte brute force at full probe
    assert(pairs(SimilarityOps.ivfTopKServe(qs, dir, k = 5, nprobe = 4,
      rerankFactor = corpus.length)) == exact)
    // the floor (shortlist = k, quantized order picks the candidates)
    // still serves exactly k ranked rows per query through the same
    // two-stage plan — recall is the only thing a shallow list trades
    val floor = SimilarityOps.ivfTopKServe(qs, dir, k = 5, nprobe = 4, rerankFactor = 1)
    val perQ = floor.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQ.length == 3 && perQ.forall(_ == 5L), s"floor must serve k rows: ${perQ.toSeq}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("drift rebuild and REBUILD verb PRESERVE the quantized layout and cell count") {
    // the downgrade this pins against: a maintenance rebuild re-running
    // with the build defaults would silently flip an i8 index to f64
    // (and reset nlist) — serving keeps working, so nothing would ever
    // flag that the 1-byte/dim serve-I/O win evaporated
    val dir = tmp("i8-rebuild-idx")
    val tableDir = tmp("i8-rebuild-corpus")
    // lower-half-space corpus: the half-shift below is then EXACTLY
    // orthogonal (cos 0 to every old centroid), so the drift verdict
    // cannot hinge on random-gaussian geometry
    val corpus = randVecs(0L until 300L, seed = 91)
      .map { case (i, v) => (i, v.indices.map(j => if (j < Dim / 2) v(j) else 0f).toSeq) }
    df(corpus).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").mode("overwrite").save(tableDir)
    val snap = spark.read.format("btr").load(tableDir)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    SimilarityOps.ivfIndexBuild(snap, dir, nlist = 4, fitSampleRows = 200,
      vectorStorage = "i8")
    def layout() = SimilarityOps.ivfIndexLayoutOf(spark, dir)
    assert(layout() == ((true, "i8", 4)))

    // rotate the corpus into the orthogonal half-space → drift rebuild
    val shifted = corpus.map { case (i, v) =>
      (i, v.indices.map(j => if (j >= Dim / 2) v(j - Dim / 2) else 0f).toSeq)
    }
    val (rebuilt, _) = SimilarityOps.ivfIndexRebuildIfDrifted(df(shifted), dir,
      minDrift = 0.8, fitSampleRows = 200, sampleRows = 200)
    assert(rebuilt, "orthogonal corpus must trigger the drift rebuild")
    assert(layout() == ((true, "i8", 4)),
      s"drift rebuild must inherit the i8 layout and nlist, got ${layout()}")
    // and the rebuilt index serves the shifted corpus exactly at full probe
    val qs = df(shifted.take(3)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    assert(pairs(SimilarityOps.ivfTopKServe(qs, dir, k = 5, nprobe = 4)) ==
      pairs(SimilarityOps.bruteForceTopK(qs, df(shifted), 5)))

    // the unconditional REBUILD verb inherits too (fresh corpus snapshot)
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)
    val bv = parser.parsePlan(
      s"IVF REBUILD INDEX '$dir' FROM graft.`$tableDir` (vec_id, embedding)")
      .asInstanceOf[graft.sources.BtrIvfRebuildCommand].run(spark).head.getLong(2)
    assert(bv == 3L, s"verb rebuild must stage build v3, got $bv")
    assert(layout() == ((true, "i8", 4)),
      s"REBUILD verb must inherit the i8 layout and nlist, got ${layout()}")
    // explicit storage still migrates (the override path stays available):
    // the verb rebuild re-fit on tableDir's ORIGINAL corpus, so the
    // shifted corpus is drifted against it again
    val (rebuilt2, _) = SimilarityOps.ivfIndexRebuildIfDrifted(
      df(shifted), dir, minDrift = 0.8, fitSampleRows = 200, sampleRows = 200,
      vectorStorage = "f32")
    assert(rebuilt2 && layout() == ((true, "f32", 4)),
      s"explicit storage must migrate on rebuild, got ${layout()}")
    Seq(dir, tableDir).foreach(x =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(x)))
  }

  test("i8 recall floor at the default rerankFactor (VERDICT r19 #3)") {
    // the IvfRerankFactor=4 default is curve-backed (AnnRecallProbe:
    // rf=1 ~0.57 recall vs the same-nprobe f64 serve, rf>=2 repairs to
    // 1.0 at 40k-1M vectors, dim 64 and 256). Pin the floor here on a
    // clustered corpus with DISTINCT cosines (sigma wide enough that the
    // 4-decimal rounding does not collapse whole clusters into tie-sets,
    // which would measure cid tie-breaking instead of recall) but tight
    // enough that small quantization errors still flip adjacent ranks,
    // so a shortlist exactly k deep measurably loses neighbors and the
    // default depth must win them back.
    val d64 = tmp("recall-f64")
    val d8 = tmp("recall-i8")
    val rnd = new scala.util.Random(77)
    val centers = Seq.fill(8)(Seq.fill(Dim)(rnd.nextGaussian().toFloat))
    val corpus = (0L until 4000L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + rnd.nextGaussian().toFloat * 0.3f))
    }
    SimilarityOps.ivfIndexBuild(df(corpus), d64, nlist = 8, fitSampleRows = 1000)
    SimilarityOps.ivfIndexBuild(df(corpus), d8, nlist = 8, fitSampleRows = 1000,
      vectorStorage = "i8")
    val qs = df(corpus.take(16)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    def served(dir: String, rf: Int): Set[(Long, Long)] =
      SimilarityOps.ivfTopKServe(qs, dir, k = 10, nprobe = 2, rerankFactor = rf)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = served(d64, 1) // rerankFactor is a no-op on f64
    def recall(rf: Int): Double = (served(d8, rf) & exact).size.toDouble / exact.size
    val atDefault = recall(SimilarityOps.IvfRerankFactor)
    assert(atDefault >= 0.97,
      f"i8 recall at the default rerankFactor must hold the floor, got $atDefault%.4f")
    // and the knob is live: an exactly-k shortlist loses real neighbors
    // on this corpus, which is what the default depth exists to repair
    assert(recall(1) < atDefault,
      s"rf=1 should measurably trail the default on a tie-heavy corpus " +
        f"(rf1=${recall(1)}%.4f vs default=$atDefault%.4f)")
    Seq(d64, d8).foreach(x =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(x)))
  }

  test("explicit f64 on a membership index preserves the vectorless layout across drift rebuild") {
    // ADVICE r19: an explicit "f64" used to force storeVectors = true, so
    // a maintenance loop configured with vectorStorage = "f64" silently
    // converted a membership (vectorless) index to IVF-flat on its next
    // drift rebuild — the exact silent-layout-change class the storage
    // plumbing exists to prevent. f64 is the no-quantization default a
    // membership index already reports; only f32/i8 imply stored vectors.
    val dir = tmp("f64-membership-idx")
    val corpus = randVecs(0L until 300L, seed = 95)
      .map { case (i, v) => (i, v.indices.map(j => if (j < Dim / 2) v(j) else 0f).toSeq) }
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 200,
      storeVectors = false)
    def layout() = SimilarityOps.ivfIndexLayoutOf(spark, dir)
    assert(layout() == ((false, "f64", 4)))
    val shifted = corpus.map { case (i, v) =>
      (i, v.indices.map(j => if (j >= Dim / 2) v(j - Dim / 2) else 0f).toSeq)
    }
    val (rebuilt, _) = SimilarityOps.ivfIndexRebuildIfDrifted(df(shifted), dir,
      minDrift = 0.8, fitSampleRows = 200, sampleRows = 200, vectorStorage = "f64")
    assert(rebuilt, "orthogonal corpus must trigger the drift rebuild")
    assert(layout() == ((false, "f64", 4)),
      s"explicit f64 must preserve the membership layout, got ${layout()}")
    // an explicitly QUANTIZED request still migrates (requires vectors)
    val half = corpus.map { case (i, v) =>
      (i, v.indices.map(j => if (j < Dim / 2) v(j) else 0f).toSeq)
    }
    val (rebuilt2, _) = SimilarityOps.ivfIndexRebuildIfDrifted(df(half), dir,
      minDrift = 0.8, fitSampleRows = 200, sampleRows = 200, vectorStorage = "i8")
    assert(rebuilt2 && layout() == ((true, "i8", 4)),
      s"explicit i8 must migrate the membership index to quantized flat, got ${layout()}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("quant_cos is null (never NaN) on zero-norm vectors and zero queries") {
    // ADVICE r19: 0/0 = NaN, and Spark sorts NaN above every double, so
    // a NaN score would rank zero vectors FIRST and waste the two-stage
    // shortlist's slots on guaranteed non-neighbors.
    val q = QuantVecUtil.quantize(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0.0, 0.0, 0.0)), 1)
    assert(q != null && q(3).asInstanceOf[Double] == 0.0) // zero norm stored
    val unit = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.0, 0.0, 0.0))
    assert(QuantVecUtil.quantCos(q(0).asInstanceOf[Array[Byte]], q(1).asInstanceOf[Double],
      q(2).asInstanceOf[Double], q(3).asInstanceOf[Double], unit, 1) == null,
      "zero STORED vector must score null, not NaN")
    val nz = QuantVecUtil.quantize(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.0, 2.0, 3.0)), 1)
    val zeroQ = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0.0, 0.0, 0.0))
    assert(QuantVecUtil.quantCos(nz(0).asInstanceOf[Array[Byte]], nz(1).asInstanceOf[Double],
      nz(2).asInstanceOf[Double], nz(3).asInstanceOf[Double], zeroQ, 1) == null,
      "zero QUERY vector must score null, not NaN")
    // and through codegen: a zero vector never outranks a real neighbor
    val rows = Seq((0L, Seq(0f, 0f, 0f)), (1L, Seq(1f, 2f, 3f)), (2L, Seq(1f, 2f, 2f)))
      .toDF("cid", "cvec")
      .withColumn("q", QuantizeVecExpr.of(col("cvec")))
      .select(col("cid"),
        QuantCosExpr.of(col("q.qvec"), col("q.qs"), col("q.qo"), col("q.qn"),
          array(lit(1f), lit(2f), lit(3f))).as("qcos"))
      .orderBy(desc_nulls_last("qcos")).collect()
    assert(rows.head.getAs[Long]("cid") == 1L && rows.last.isNullAt(1),
      s"zero vector must sort last via null, got ${rows.mkString(", ")}")
  }

  test("storeVectors=false rejects quantized storage; unknown storage rejected") {
    val corpus = df(randVecs(0L until 10L, seed = 71))
    intercept[IllegalArgumentException] {
      SimilarityOps.ivfIndexBuild(corpus, tmp("bad1"), storeVectors = false,
        vectorStorage = "i8")
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.ivfIndexBuild(corpus, tmp("bad2"), vectorStorage = "f16")
    }
  }

  test("i8 shortlists are caller-owned: no CacheManager entry, freed once unreachable") {
    val dir = tmp("i8-shortlist-bound")
    val corpus = randVecs(0L until 120L, seed = 83)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 120,
      vectorStorage = "i8")
    val qs = df(corpus.take(2)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val expected = pairs(SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = 4))
    val entriesBefore = CacheProbe.cachedEntries(spark)
    val rddsBefore = CacheProbe.persistentRddIds(spark)
    // many serving calls: each shortlist is a local checkpoint held by
    // its result, so no call registers a session CacheManager entry and
    // an early result still answers after later calls. Returns the ids
    // of the persistent RDDs the calls created.
    def serveMany(calls: Int): Set[Int] = {
      val results = (1 to calls).map(_ => SimilarityOps.ivfTopKServe(qs, dir, k = 3, nprobe = 4))
      assert(CacheProbe.cachedEntries(spark) == entriesBefore,
        s"$calls serving calls added CacheManager entries")
      assert(pairs(results.head) == expected)
      assert(pairs(results.last) == expected)
      CacheProbe.persistentRddIds(spark) -- rddsBefore
    }
    val created = serveMany(13)
    assert(created.nonEmpty, "the shortlists should be checkpointed while their results live")
    // the results are unreachable now: the ContextCleaner frees their
    // checkpoint blocks after a GC
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Millis, Seconds, Span}
    eventually(timeout(Span(30, Seconds)), interval(Span(500, Millis))) {
      System.gc()
      val live = CacheProbe.persistentRddIds(spark)
      assert(live.size <= rddsBefore.size && created.forall(id => !live.contains(id)),
        s"expected the ${created.size} shortlist checkpoints freed once the results " +
          s"are dropped; ${created.count(live.contains)} still live")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
