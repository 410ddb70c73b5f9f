package graft.functions

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheProbe
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}

/** One lifetime rule for operator caches: an intermediate lives for the
  * call and is released in `finally`; a returned result is a local
  * checkpoint the caller owns. Pins the three shapes the rule fixes:
  * a returned result stays materialized however many later calls run,
  * concurrent callers in one session get their solo results, and no
  * operator leaves an entry in the session CacheManager — on return or
  * on an exception — while its checkpoints go once unreachable.
  */
class CacheLifetimeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("cache-lifetime-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
    "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")

  /** `n` documents in groups of four near-duplicates (one word changed
    * per member), so every dedup operator has pairs to find.
    */
  private def docs(n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).grouped(4).flatMap { grp =>
      val base = Seq.fill(14)(words(rnd.nextInt(words.length)))
      grp.zipWithIndex.map { case (id, j) =>
        (id.toLong, base.updated(j, words(rnd.nextInt(words.length))).mkString(" "))
      }
    }.toSeq.toDF("doc_id", "text")
  }

  private def vectors(n: Int): DataFrame = {
    val rnd = new scala.util.Random(11)
    val centers = Seq.fill(4)(Seq.fill(8)(rnd.nextGaussian() * 4))
    (0 until n).map { i =>
      (i.toLong, centers(i % 4).map(x => (x + rnd.nextGaussian() * 0.01).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.mkString("|")).toSet

  /** Shuffle stages submitted while `body` runs its jobs (job group
    * tagged, so stray jobs of other threads do not count).
    */
  private def shuffleStagesOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"cache-lifetime-${System.nanoTime()}"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val shuffles = new java.util.concurrent.atomic.AtomicInteger()
    def ours(p: java.util.Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) ended.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties) && CacheProbe.isShuffleMapStage(e.stageInfo)) shuffles.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "re-evaluate a returned result")
      try body finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds)), interval(Span(100, Millis))) {
        assert(jobs.size > 0 && ended.get == jobs.size)
      }
      shuffles.get
    } finally sc.removeSparkListener(listener)
  }

  test("(a) a returned minhashDedup result survives the next call without recompute") {
    val first = TextOps.minhashDedup(docs(400, seed = 1), "doc_id", "text")
    val firstRows = rows(first)
    assert(firstRows.nonEmpty)
    TextOps.minhashDedup(docs(400, seed = 2), "doc_id", "text").count()
    // a query over the result plans afresh (a new QueryExecution), the
    // way a caller composes it; re-collecting `first` itself would reuse
    // its already-executed plan's shuffle output and prove nothing
    var again = Set.empty[String]
    val shuffles = shuffleStagesOf { again = rows(first.select(first.columns.map(col): _*)) }
    assert(again == firstRows)
    assert(shuffles == 0,
      s"re-evaluating the first result ran $shuffles shuffle stage(s): it was recomputed")
  }

  test("(b) concurrent minhashDedup and simhashDedup in one session match their solo runs") {
    val d1 = docs(600, seed = 3)
    val d2 = docs(600, seed = 4)
    val soloMinhash = rows(TextOps.minhashDedup(d1, "doc_id", "text"))
    val soloSimhash = rows(TextOps.simhashDedup(d2, "doc_id", "text"))
    assert(soloMinhash.nonEmpty && soloSimhash.nonEmpty)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fm = Future(rows(TextOps.minhashDedup(d1, "doc_id", "text")))
    val fs = Future(rows(TextOps.simhashDedup(d2, "doc_id", "text")))
    assert(Await.result(fm, 5.minutes) == soloMinhash)
    assert(Await.result(fs, 5.minutes) == soloSimhash)
  }

  test("(c) no operator leaves a CacheManager entry behind, on return or on an exception") {
    // persistent RDDs (result checkpoints) the operators created
    var created = Set.empty[Int]
    def check(op: String)(run: => DataFrame): Unit = {
      val before = CacheProbe.cachedEntries(spark)
      val rddsBefore = CacheProbe.persistentRddIds(spark)
      val out = run
      assert(CacheProbe.cachedEntries(spark) == before,
        s"$op left ${CacheProbe.cachedEntries(spark) - before} CacheManager entries")
      assert(!CacheProbe.isCached(out), s"$op returned a CacheManager-cached result")
      assert(out.count() >= 0)
      created ++= CacheProbe.persistentRddIds(spark) -- rddsBefore
    }
    val d = docs(200, seed = 5)
    val v = vectors(200)
    check("ngramJaccardPairs")(TextOps.ngramJaccardPairs(d, "doc_id", "text", 5, 0.5))
    check("minhashDedup")(TextOps.minhashDedup(d, "doc_id", "text"))
    check("minhashIncrement")(TextOps.minhashIncrement(
      d.filter(col("doc_id") < 150), d.filter(col("doc_id") >= 150), "doc_id", "text"))
    check("simhashDedup")(TextOps.simhashDedup(d, "doc_id", "text"))
    val edges = TextOps.minhashDedup(d, "doc_id", "text")
    check("connectedComponents (driver path)")(
      TextOps.connectedComponents(d.select(col("doc_id").as("id")), edges))
    check("connectedComponents (iterative path)")(
      TextOps.connectedComponents(d.select(col("doc_id").as("id")), edges, maxDriverEdges = 0))
    check("kmeansClusters")(SimilarityOps.kmeansClusters(v, "vec_id", "embedding", 4, 3))
    check("semanticDedup")(SimilarityOps.semanticDedup(v, "vec_id", "embedding", 4, 3, 0.99))
    // an edge pipeline that fails at evaluation (ANSI cast of a non-number)
    // throws inside connectedComponents after its edge cache was created
    val before = CacheProbe.cachedEntries(spark)
    val badEdges = Seq(("1", "x")).toDF("a", "b")
      .select(col("a").cast("long").as("id_a"), col("b").cast("long").as("id_b"))
    intercept[Exception] {
      TextOps.connectedComponents(d.select(col("doc_id").as("id")), badEdges)
    }
    assert(CacheProbe.cachedEntries(spark) == before,
      "a throwing connectedComponents leaked its edge cache")
    // every result is unreachable now: the ContextCleaner frees the
    // checkpoints the operators made
    assert(created.nonEmpty)
    eventually(timeout(Span(30, Seconds)), interval(Span(500, Millis))) {
      System.gc()
      val live = CacheProbe.persistentRddIds(spark)
      assert(created.forall(id => !live.contains(id)),
        s"${created.count(live.contains)} of ${created.size} operator checkpoints still live")
    }
  }
}
