package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Smoke run of the tool kit at the smallest size that builds an IVF
  * index: every [[IvfProbe]] mode over a 500-vector embeddings table at
  * copies = 1, and [[BtrCli]] over a small mixed-type table. Each IVF
  * mode must emit exactly the line shapes (key lists) of the committed
  * artifact it reproduces, so a tool change that drops or renames a
  * field fails here rather than in the next long probe run.
  */
class ToolKitSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("tool-kit-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val base = "/tmp/btr-tool-kit-spec"

  /** An sf-style dir holding `embeddings.parquet`: 500 dim-64 vectors in
    * 10 hash-placed clusters, the shape of the test tables' embeddings.
    */
  private lazy val sfDir = {
    val dir = Kit.freshDir(s"$base/sf")
    val label = col("id") % 10L
    spark.range(500).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(hash(label, i), lit(2001)) - lit(1000)).cast("float") / 1000f +
          (pmod(hash(col("id"), i), lit(201)) - lit(100)).cast("float") / 2000f)
          .cast("float")).as("embedding"),
      label.cast("int").as("label"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val KeyRe = "\"([A-Za-z0-9_]+)\":".r

  /** The distinct key lists of a file's or a run's JSON lines. */
  private def shapes(lines: Seq[String]): Set[Seq[String]] =
    lines.filter(_.startsWith("{")).map(l => KeyRe.findAllMatchIn(l).map(_.group(1)).toSeq).toSet

  private def artifact(name: String): Seq[String] = {
    val src = scala.io.Source.fromFile(name)
    try src.getLines().filter(_.nonEmpty).toSeq finally src.close()
  }

  private def probe(mode: String): Map[String, Seq[String]] =
    IvfProbe.run(spark, mode, sfDir, copies = 1).toMap

  test("IvfProbe recall emits the ann_recall artifact's line shapes") {
    val out = probe("recall")
    assert(out.keySet == Set(""))
    assert(shapes(out("")) == shapes(artifact("ann_recall_r22.json")))
    assert(shapes(out("")) == shapes(artifact("ann_recall_r20.json")))
  }

  test("IvfProbe skew writes the split and the no-split artifact from one run") {
    val out = probe("skew")
    assert(out.keySet == Set("", "_nosplit"))
    assert(shapes(out("")) == shapes(artifact("ivf_skew_r22.json")))
    assert(shapes(out("_nosplit")) == shapes(artifact("ivf_skew_r22_nosplit.json")))
    assert(out.values.forall(_.size == 4), out)
  }

  test("IvfProbe nprobe builds both layouts it compares") {
    val out = probe("nprobe")("")
    assert(shapes(out) == shapes(artifact("ivf_nprobe_sweep_r22.json")))
    // 2 variants × 2 layouts × 4 nprobe points, none skipped
    assert(out.size == 16, out)
    assert(out.count(_.contains("\"layout\":\"nosplit\"")) == 8, out)
  }

  test("IvfProbe scale emits the ann_scale artifact's line shapes") {
    val out = probe("scale")("")
    assert(shapes(out) == shapes(artifact("ann_scale_r20_f64.json")))
    assert(shapes(out) == shapes(artifact("ann_scale_r19.json")))
  }

  test("IvfProbe heap reports every storage's build envelope") {
    val out = probe("heap")("")
    assert(shapes(out) == Set(
      Seq("max_heap_gb", "corpus"),
      Seq("storage", "build_sec", "peak_heap_gb", "retained_after_gc_gb", "max_files_per_cell")))
    assert(out.count(_.startsWith("{\"storage\"")) == 3, out)
  }

  test("BtrCli round-trips a mixed-type table through the btr writer") {
    val sf = Kit.freshDir(s"$base/cli-sf")
    val id = col("id")
    spark.range(3000).select(
      id.as("l_orderkey"),
      (id % 7).cast("int").as("l_linenumber"),
      (pmod(hash(id), lit(100000)) / 100.0).as("l_extendedprice"),
      when(id % 5 === 0, lit(null)).otherwise(concat(lit("flag-"), (id % 3).cast("string")))
        .as("l_returnflag"),
      date_add(lit("1995-01-01").cast("date"), (id % 400).cast("int")).as("l_shipdate"),
      (id * 1000003L).cast("timestamp").as("l_ts"),
      (id % 997 / 100.0).cast("decimal(12,2)").as("l_price"),
      hex(id).cast("binary").as("l_bin"))
      .write.parquet(s"$sf/lineitem.parquet")
    val printed = new java.io.ByteArrayOutputStream()
    val ok = Console.withOut(printed)(BtrCli.run(spark, sf, Seq("lineitem"), s"$base/cli-out"))
    val text = printed.toString("UTF-8")
    assert(ok, text)
    assert(text.contains("match=true") && text.contains("ALL_MATCH=true"), text)
    for (c <- Seq("l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate", "l_price", "l_bin"))
      assert(text.linesIterator.exists(_.trim.startsWith(c + " ")), s"$c missing:\n$text")
  }
}
