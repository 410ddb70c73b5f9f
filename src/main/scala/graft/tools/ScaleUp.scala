package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for bench smokes: replicates the test tables
  * N× with consistent key shifts (each replica's foreign keys point at
  * its own replica of the referenced table), so join cardinalities and
  * value distributions scale ~linearly and the same bench queries run
  * unchanged at 10× data. Usage:
  *
  *   runMain graft.tools.ScaleUp <srcSfDir> <outDir> [copies=10]
  *
  * A scale SMOKE, not a TPC-H generator — it exists to catch planning or
  * skew cliffs a page-cached sf0.1 run can't (per-query times should
  * scale ≈linearly; superlinear growth means a driver-side or shuffle
  * bottleneck). Replicated documents form exact 10-member duplicate
  * classes, which doubles as a stress input for the dedup guards.
  */
object ScaleUp {
  // key shift per replica, far above any real key at these scale factors
  private val K = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    // mode=replicate (default) keeps replica text byte-identical, so
    // duplicate-class SIZE grows ∝ copies — a guard stress, but dedup
    // output (true pairs) grows quadratically in copies BY CONSTRUCTION.
    // mode=perturb injects a replica-unique marker token into documents
    // text every few words (replica 0 stays pristine): within-replica
    // duplicate classes survive unchanged while cross-replica jaccard
    // collapses, so class size stays CONSTANT as the corpus grows — the
    // realistic growth direction, for measuring the verify-stage curve
    // without the replication artifact.
    val mode = if (args.length > 3) args(3) else "replicate"
    require(mode == "replicate" || mode == "perturb", s"mode=$mode")
    // optional table subset (comma list) — a perturb probe only needs
    // `documents`, no point re-emitting 100× lineitem
    val only: Option[Set[String]] =
      if (args.length > 4 && args(4) != "all")
        Some(args(4).split(',').map(_.trim).filter(_.nonEmpty).toSet)
      else None
    Kit.withSession("scale-up")(scaleUp(_, src, out, copies, mode, only))
  }

  private def scaleUp(spark: SparkSession, src: String, out: String, copies: Int,
      mode: String, only: Option[Set[String]]): Unit = {
    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** Union `copies` replicas, shifting the listed key columns by i*K;
      * `perturb` transforms each non-zero replica after the shift.
      */
    def replicate(df: DataFrame, keyCols: Seq[String],
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        val shifted = keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * K)))
        if (i == 0) shifted else perturb(shifted, i)
      }.reduce(_ unionAll _)

    /** Inject a replica-unique marker after every 4th word: exact and
      * near duplicates WITHIN a replica stay duplicates (both sides get
      * the same markers at the same positions), while any cross-replica
      * pair's shingle jaccard collapses far below dedup thresholds.
      */
    def perturbDocs(d: DataFrame, i: Int): DataFrame =
      if (mode != "perturb") d
      else d.withColumn("text", array_join(
        transform(split(col("text"), " "),
          (w, j) => when(j % 4 === lit(3), concat(w, lit(s" zzr${i}zz"))).otherwise(w)),
        " "))

    val plans: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => t("region")),
      "nation" -> (() => t("nation")),
      "customer" -> (() => replicate(t("customer"), Seq("c_custkey"))),
      "supplier" -> (() => replicate(t("supplier"), Seq("s_suppkey"))),
      "part" -> (() => replicate(t("part"), Seq("p_partkey"))),
      "orders" -> (() => replicate(t("orders"), Seq("o_orderkey", "o_custkey"))),
      "lineitem" -> (() => replicate(t("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))),
      // events keep their time range (hour-partition layouts stay 720
      // dirs with 10× rows each — the realistic growth direction)
      "events" -> (() => replicate(t("events"), Seq("event_id", "user_id"))),
      "documents" -> (() => replicate(t("documents"), Seq("doc_id"), perturbDocs)),
      "embeddings" -> (() => replicate(t("embeddings"), Seq("vec_id")))
    )
    plans.filter(p => only.forall(_.contains(p._1))).foreach { case (name, mk) =>
      mk().write.mode("overwrite").parquet(s"$out/$name.parquet.dir")
      // the bench reads <table>.parquet as a path; a directory works for
      // spark.read.parquet, so normalize the name
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val from = new org.apache.hadoop.fs.Path(s"$out/$name.parquet.dir")
      val to = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      fs.delete(to, true)
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
      println(s"[scaleup] $name x$copies done")
    }
  }
}
